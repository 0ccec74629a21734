"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full KG-construction pipeline
(chunk → extract → canonicalize → triples) over the synthetic pages
corpus plus pages derived from /root/testdata/sf0.001/documents.parquet,
returning the classic "bands formed in Birmingham" result.

``queries()`` — one entry per implemented operator family
(SURVEY.md §2): relational/analytic plans over the TPC-H-ish tables,
training-data operators over documents/embeddings, and the KG pipeline
itself (kg_* — pipeline outputs checked via trusted-export decision
oracles: the entry exports the pipeline-internal inputs and the DuckDB
side re-derives the result from scratch).

``oracle_sql()`` — exact DuckDB equivalents for EVERY query (zero
rows-only entries remain as of r4); column names and float
rounding match the Spark side so the driver's order-insensitive
value-hash agrees.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- helpers ---------------------------------------------------------------

_STOPWORDS_SQL = "['the','and','of','to','in','is','was','that','with','for']"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


#: Per-process root for trusted-export parquet paths and the
#: per-run KG stores, removed when the process exits. The driver's
#: protocol is query-writes-then-oracle-reads PER QUERY, so within one
#: process any number of sf tiers can run back-to-back safely; a
#: private root removes the remaining hazard — two CONCURRENT drivers
#: pointed at different sf_dirs sharing one fixed /tmp file.
#: oracle_sql() is evaluated in the same process as queries(), so the
#: SQL strings embed the same per-process paths the query functions
#: write.
_EXPORT_ROOT = tempfile.mkdtemp(prefix="kg_entry_")
atexit.register(shutil.rmtree, _EXPORT_ROOT, ignore_errors=True)


def _export(name: str) -> str:
    return os.path.join(_EXPORT_ROOT, f"x_{name}.parquet")


_KG_CACHE: dict[str, object] = {}

_PACKAGE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "metal_history_knowledge_graph_spark")


@functools.cache
def _package_digest() -> str:
    """sha1 over the package's ``.py`` sources, in sorted walk order
    (the rule perfbench/run.py keys its corpus cache by)."""
    h = hashlib.sha1()
    for dirpath, dirs, files in os.walk(_PACKAGE_DIR):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _cache_root(prefix: str, digest: str) -> str:
    """The shared cross-process cache dir ``<tmp>/<prefix>_<digest[:12]>``:
    output that code built is only ever reused by that same code."""
    return os.path.join(tempfile.gettempdir(), f"{prefix}_{digest[:12]}")


def _current_cache_root(prefix: str) -> str:
    """:func:`_cache_root` for the package as it is now. Removes the
    ``prefix`` caches that other code versions built (and the
    digest-less ones older code left)."""
    root = _cache_root(prefix, _package_digest())
    keep, tmp = os.path.basename(root), tempfile.gettempdir()
    stale = re.compile(re.escape(prefix) + r"(_[0-9a-f]{12})?(\.tmp)?")
    for name in os.listdir(tmp):
        if stale.fullmatch(name) and not name.startswith(keep):
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
    return root


def _kg_store(spark: SparkSession, sf_dir: str):
    """Build the knowledge graph once per sf_dir (synthetic corpus,
    seed 42) and cache the TableStore across queries. The store dir is
    shared across processes and resumed, keyed by sf_dir and by the
    package sources, so a code change rebuilds it."""
    key = os.path.abspath(sf_dir)
    if key in _KG_CACHE:
        return _KG_CACHE[key]
    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run
    from metal_history_knowledge_graph_spark.sources.corpus import generate_pages

    n_pages = 300 if "0.01" in os.path.basename(key.rstrip("/")) else 120
    tag = hashlib.md5(key.rstrip("/").encode()).hexdigest()[:12]
    root = _current_cache_root(f"kg_entry_store_{os.path.basename(key.rstrip('/'))}_{tag}")
    store = TableStore(spark, root)
    run(spark, generate_pages(spark, n_pages, seed=42), store,
        run_id=f"entry-{n_pages}", resume=True)
    _KG_CACHE[key] = store
    return store


# --- flagship ---------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """KG pipeline over synthetic pages + sf0.001 documents-derived
    pages; returns bands formed in Birmingham with provenance counts."""
    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run
    from metal_history_knowledge_graph_spark.sources.corpus import generate_pages

    sf_dir = "/root/testdata/sf0.001"
    docs = _t(spark, sf_dir, "documents")
    doc_pages = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>\n<p>"), F.col("text"),
                     F.lit("</p>\n</body></html>")), "utf-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )
    pages = generate_pages(spark, 60, seed=42).unionByName(doc_pages)
    root = os.path.join(_EXPORT_ROOT, "flagship")
    shutil.rmtree(root, ignore_errors=True)
    store = TableStore(spark, root)
    run(spark, pages, store, run_id="flagship", resume=False)
    ents = store.read("entities")
    edges = store.read("edges")
    locations = ents.filter(F.col("entity_type") == "locations").select(
        F.col("canonical_id").alias("obj_id"), F.col("canonical_name").alias("city")
    )
    return (
        edges.filter(F.col("pred") == "FORMED_IN")
        .join(F.broadcast(locations), "obj_id")
        .filter(F.col("city") == "Birmingham")
        .select(
            F.col("subj_name").alias("band"), "city",
            F.col("n_sources").alias("n_source_urls"),
        )
        .orderBy("band")
    )


# --- relational / analytic catalog (oracle-checked) --------------------------

def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-lite: the scan→partial-agg→final-agg shape."""
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_filter_sort_paginate(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.orderBy("c_name")
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 10) & (F.col("rn") <= 30))
        .select("c_custkey", "c_name", F.col("rn").cast("long").alias("rn"))
    )


def q_point_lookup(spark, sf_dir):
    return _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 42).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


def q_join_topn(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .join(F.broadcast(_t(spark, sf_dir, "customer")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


def q_anti_join(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_window_rank(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rk").cast("long").alias("rk"))
    )


def q_year_bucket(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


def q_self_join_pairs(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("a_key"), F.col("s_nationkey").alias("nation"))
    b = s.select(F.col("s_suppkey").alias("b_key"), F.col("s_nationkey").alias("nation"))
    return (
        a.join(b, "nation")
        .filter(F.col("a_key") < F.col("b_key"))
        .groupBy(F.col("nation").alias("n_nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_range_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    a = e.select(F.col("event_id").alias("a_id"), "user_id", F.col("ts").alias("a_ts"))
    b = e.select(F.col("event_id").alias("b_id"), "user_id", F.col("ts").alias("b_ts"))
    return (
        a.join(b, "user_id")
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (
                F.abs(
                    F.unix_micros(F.col("a_ts").cast("timestamp"))
                    - F.unix_micros(F.col("b_ts").cast("timestamp"))
                )
                <= 600 * 1_000_000
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_substring_rank(spark, sf_dir):
    p = _t(spark, sf_dir, "part").filter(F.lower("p_name").contains("re"))
    return (
        p.withColumn(
            "rank_key",
            F.when(F.lower("p_name") == "re", F.lit(0))
            .when(F.lower("p_name").startswith("re"), F.lit(1))
            .otherwise(F.lit(2)).cast("long"),
        )
        .select("p_partkey", "p_name", "rank_key")
    )


def q_degree(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.countDistinct("event_type").alias("type_degree"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_hourly_events(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
    )


def q_multihop_join(spark, sf_dir):
    """2-hop join chain customer → orders → lineitem (graph 1-hop/2-hop
    pattern over relational data)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(25)
    )


def q_percentiles(spark, sf_dir):
    """Exact median/percentile aggregation (degree-distribution stats
    family, graph_metrics.py:77-80)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.median("o_totalprice"), 2).alias("median_price"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 2).alias("p90_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- training-data catalog (oracle-checked) -----------------------------------

def q_token_counts(spark, sf_dir):
    from metal_history_knowledge_graph_spark.operators.textstats import with_token_counts

    return with_token_counts(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_subword_tokens").cast("long").alias("n_subword_tokens"),
    )


def q_quality_scores(spark, sf_dir):
    from metal_history_knowledge_graph_spark.operators.textstats import with_quality_score

    return with_quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "quality_score"
    )


def q_lang_id(spark, sf_dir):
    from metal_history_knowledge_graph_spark.operators.textstats import with_lang_id

    return with_lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_id")


def q_hash_sample(spark, sf_dir):
    """Deterministic md5-keyed Bernoulli sample (operators/sampling.py)
    — the resume-safe replacement for df.sample(); the oracle replays
    the exact keep/drop decision in DuckDB."""
    from metal_history_knowledge_graph_spark.operators.sampling import hash_sample

    docs = _t(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25, seed=7).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_stratified_sample(spark, sf_dir):
    """Per-language deterministic sampling rates — vocabulary-sized
    CASE cutoff, no join/shuffle; per-stratum keep decision replayed
    exactly in SQL."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        stratified_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", {"en": 0.5, "de": 0.8, "fr": 0.1}, key_col="doc_id", seed=3
    ).select("doc_id", "lang")


def q_mix_sources(spark, sf_dir):
    """Dataset mixing to target proportions (downsample-only): the
    count pass + driver rate math + stratified hash filter, replayed
    end-to-end by the oracle's CTE chain (same float expression
    shapes, so the floor(rate*1e6) cutoffs agree bit-for-bit)."""
    from metal_history_knowledge_graph_spark.operators.sampling import mix_sources

    docs = _t(spark, sf_dir, "documents")
    return mix_sources(
        docs, "source", {"src0": 1, "src1": 1, "src2": 2}, key_col="doc_id", seed=5
    ).select("doc_id", "source")


def q_shard_stats(spark, sf_dir):
    """Training-export shard assignment (operators/sampling.py
    assign_shards): per-shard row count + char volume — the oracle
    replays the md5 shard function per row, so membership (not just
    balance) is checked."""
    from metal_history_knowledge_graph_spark.operators.sampling import assign_shards

    docs = _t(spark, sf_dir, "documents")
    return (
        assign_shards(docs, "doc_id", n_shards=8, seed=2)
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (operators/scrub.py): the documents table is
    deterministically augmented with synthetic emails / phones / IPs
    derived from doc_id (both engines build the identical augmented
    text), then redacted; the oracle replays the same
    count-and-replace chain (common Java-regex/RE2 pattern subset) and
    must match the per-class counts AND the sha256 of the redacted
    text per row."""
    from metal_history_knowledge_graph_spark.operators.scrub import redact_pii

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(" call 555-123-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
                         F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(aug).select(
        "doc_id", "n_email", "n_phone", "n_ipv4",
        F.sha2(F.col("redacted"), 256).alias("redacted_sha"),
    )


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/contamination.py): the
    'benchmark' is the deterministic doc_id % 29 == 0 slice of the
    documents table (no external data); every document reports its
    distinct word-5-gram count, how many occur in the benchmark, and
    the contaminated flag. Oracle replays gram construction
    (string_split + list_slice) and the overlap join in DuckDB."""
    from metal_history_knowledge_graph_spark.operators.contamination import (
        contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    benchmark = docs.filter(F.col("doc_id") % 29 == 0)
    return contamination(docs, benchmark, n=5)


def q_pack_stats(spark, sf_dir):
    """Sequence-packing assignment (operators/packing.py): documents
    hashed into 8 shards, concat-then-chunk into 512-token sequences;
    per-document (shard, seq_first, offset_in_seq, n_seqs) replayed
    exactly in DuckDB via the same md5 shard hash and a
    window-cumsum."""
    from metal_history_knowledge_graph_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), " ")).cast("long")
    )
    return pack_sequences(
        docs, "doc_id", "n_tokens", capacity=512, n_shards=8, seed=0
    ).select("doc_id", "shard", "seq_first", "offset_in_seq", "n_seqs")


def q_url_canon(spark, sf_dir):
    """URL canonicalization (operators/urlnorm.py): synthetic crawl
    URLs derived from doc_id exercise every rule (case, default ports,
    tracking params, param order, fragments, trailing slash,
    non-URL passthrough); the oracle replays the exact expression
    chain in DuckDB (common regex subset, no replacement
    backreferences)."""
    from metal_history_knowledge_graph_spark.operators.urlnorm import (
        canonicalize_urls,
    )

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 5).cast("int")
    did = F.col("doc_id").cast("string")
    urls = docs.select(
        "doc_id",
        F.when(m == 0, F.concat(F.lit("HTTP://Example.COM:80/Path/"), did,
                                F.lit("/?b=2&utm_source=x&a=1#frag")))
        .when(m == 1, F.lit("https://CDN.Example.org:443/assets?z=9&y=8&fbclid=abc123"))
        .when(m == 2, F.lit("https://example.com/shared/page/"))
        .when(m == 3, F.concat(F.lit("http://site"), (F.col("doc_id") % 7).cast("string"),
                               F.lit(".net/p?id="), did, F.lit("&ref=home")))
        .otherwise(F.concat(F.lit("not a url "), did)).alias("url"),
    )
    return canonicalize_urls(urls).select("doc_id", "canonical_url")


def _jsonld_fixture(spark, sf_dir):
    """Deterministic pages with embedded JSON-LD: a MusicGroup block
    on every page (with a JSON null property every 6th), a nested
    MusicAlbum block every 2nd, a malformed block every 3rd, a
    top-level array every 5th, an untyped object every 4th — the
    lanes real markup actually contains. Minified JSON throughout so
    both engines' re-serialization is byte-identical."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    band = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@context":"https://schema.org","@type":"MusicGroup",'
              '"name":"Band'), did,
        F.lit('","foundingDate":"'),
        (F.col("doc_id") % 30 + 1980).cast("string"),
        F.lit('","active":'),
        F.when(F.col("doc_id") % 2 == 0, F.lit("true")).otherwise(
            F.lit("false")),
        F.when(F.col("doc_id") % 6 == 0, F.lit(',"award":null')).otherwise(
            F.lit("")),
        F.lit("}</script>"),
    )
    album = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('<SCRIPT TYPE="application/ld+json">'
                  '{"@type":"MusicAlbum","name":"Album'), did,
            F.lit('","numTracks":'), (F.col("doc_id") % 13).cast("string"),
            F.lit(',"byArtist":{"@type":"MusicGroup","name":"Band'), did,
            F.lit('"}}</SCRIPT>'),
        ),
    ).otherwise(F.lit(""))
    broken = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit('<script type="application/ld+json">{broken'), did,
                 F.lit("</script>")),
    ).otherwise(F.lit(""))
    arr = F.when(
        F.col("doc_id") % 5 == 0,
        F.lit('<script type="application/ld+json">'
              '[{"@type":"ItemList"}]</script>'),
    ).otherwise(F.lit(""))
    untyped = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit('<script type="application/ld+json">{"name":"site'),
                 did, F.lit('"}</script>')),
    ).otherwise(F.lit(""))
    return docs.select(
        F.concat(F.lit("http://ex.com/d"), did).alias("url"),
        F.concat(
            F.lit('<html><head><script src="app.js"></script>'),
            band, album, broken, arr, untyped,
            F.lit("<body><p>text</p></body></html>"),
        ).alias("html"),
    )


#: fixture re-assembly + the block/parse/explode replay, shared by the
#: two JSON-LD oracles.
_JSONLD_SQL_CTES = r"""
jl_pages AS (
    SELECT 'http://ex.com/d' || CAST(doc_id AS VARCHAR) AS url,
        '<html><head><script src="app.js"></script>'
        || '<script type="application/ld+json">{"@context":"https://schema.org","@type":"MusicGroup","name":"Band'
        || CAST(doc_id AS VARCHAR) || '","foundingDate":"'
        || CAST(doc_id % 30 + 1980 AS VARCHAR) || '","active":'
        || CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END
        || CASE WHEN doc_id % 6 = 0 THEN ',"award":null' ELSE '' END
        || '}</script>'
        || CASE WHEN doc_id % 2 = 0 THEN
             '<SCRIPT TYPE="application/ld+json">{"@type":"MusicAlbum","name":"Album'
             || CAST(doc_id AS VARCHAR) || '","numTracks":'
             || CAST(doc_id % 13 AS VARCHAR)
             || ',"byArtist":{"@type":"MusicGroup","name":"Band'
             || CAST(doc_id AS VARCHAR) || '"}}</SCRIPT>'
           ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN
             '<script type="application/ld+json">{broken'
             || CAST(doc_id AS VARCHAR) || '</script>'
           ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN
             '<script type="application/ld+json">[{"@type":"ItemList"}]</script>'
           ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN
             '<script type="application/ld+json">{"name":"site'
             || CAST(doc_id AS VARCHAR) || '"}</script>'
           ELSE '' END
        || '<body><p>text</p></body></html>' AS html
    FROM documents
), jl_split AS (
    SELECT url, regexp_extract_all(html,
        '(?is)<script[^>]*type="application/ld\+json"[^>]*>(.*?)</script>',
        1) AS blocks
    FROM jl_pages
), jl_idx AS (
    SELECT url, blocks, unnest(range(1, len(blocks) + 1)) AS i FROM jl_split
), jl_blocks AS (
    SELECT url, CAST(i - 1 AS INT) AS block_idx, trim(blocks[i]) AS json_text
    FROM jl_idx
), jl_valid AS (
    SELECT url, block_idx, TRY_CAST(json_text AS JSON) AS j FROM jl_blocks
), jl_obj AS (
    SELECT url, block_idx, j FROM jl_valid
    WHERE j IS NOT NULL AND json_type(j) = 'OBJECT'
), jl_keys AS (
    SELECT url, block_idx, j,
        json_extract_string(j, '@type') AS item_type,
        unnest(json_keys(j)) AS prop
    FROM jl_obj
), jl_props AS (
    SELECT url, block_idx, item_type, prop,
        json_extract_string(j, prop) AS value
    FROM jl_keys WHERE prop NOT LIKE '@%'
)"""


def q_jsonld(spark, sf_dir):
    """Schema.org JSON-LD extraction (operators/structured.py): every
    top-level property of every valid top-level-object block, with
    malformed JSON / top-level arrays dropped and nested values kept
    as minified JSON text. Parsing is native Jackson (from_json to
    map<string,string>) — no Python — and the oracle replays block
    regex, validity lanes, and per-key extraction with DuckDB's JSON
    type, whose minified re-serialization matches Jackson's
    byte-for-byte (pinned in test_structured)."""
    from metal_history_knowledge_graph_spark.operators.structured import (
        extract_jsonld,
    )

    return extract_jsonld(_jsonld_fixture(spark, sf_dir)).orderBy(
        "url", "block_idx", "prop"
    )


def q_jsonld_rollup(spark, sf_dir):
    """Per-(item_type, prop) coverage rollup of the declared entities
    (operators/structured.jsonld_typed_entities) — the table that
    decides which schema.org predicates join the KG whitelist."""
    from metal_history_knowledge_graph_spark.operators.structured import (
        extract_jsonld,
        jsonld_typed_entities,
    )

    return jsonld_typed_entities(
        extract_jsonld(_jsonld_fixture(spark, sf_dir))
    ).orderBy(F.col("item_type").asc_nulls_first(), "prop")


def _jsonld_oracle() -> str:
    return (
        f"WITH {_JSONLD_SQL_CTES}\n"
        "SELECT url, block_idx, item_type, prop, value FROM jl_props\n"
        "ORDER BY url, block_idx, prop"
    )


def _jsonld_rollup_oracle() -> str:
    return (
        f"WITH {_JSONLD_SQL_CTES}\n"
        "SELECT item_type, prop, CAST(count(*) AS BIGINT) AS n_rows,\n"
        "       CAST(count(DISTINCT value) AS BIGINT) AS n_values\n"
        "FROM jl_props GROUP BY item_type, prop\n"
        "ORDER BY item_type NULLS FIRST, prop"
    )


def q_jsonld_mentions(spark, sf_dir):
    """Declared facts entering the KG pipeline (operators/structured.
    jsonld_extracted): JSON-LD blocks re-shaped into the SAME
    union-typed extraction stream the text extractor emits
    (EXTRACTED_SCHEMA; schema parity pinned in test_structured), so
    publisher facts canonicalize and materialize alongside text
    mentions at confidence 1.0. Projected here to the populated core
    columns; the oracle replays the per-block property pivot, the
    type mapping, the nested byArtist extraction, and the RELEASED
    relationship lane."""
    from metal_history_knowledge_graph_spark.operators.structured import (
        extract_jsonld,
        jsonld_extracted,
    )

    rows = jsonld_extracted(
        extract_jsonld(_jsonld_fixture(spark, sf_dir))
    )
    return rows.select(
        "kind", "chunk_id", "url", "chunk_index", "idx", "entity_type",
        "name", "confidence", "formed_year", "title", "artist", "rel_type",
        "from_entity_type", "from_entity_name", "to_entity_type",
        "to_entity_name",
    ).orderBy("url", "chunk_index", "kind")


def _jsonld_mentions_oracle() -> str:
    return (
        f"WITH {_JSONLD_SQL_CTES},\n"
        r"""jm_blocks AS (
    SELECT url, block_idx, item_type,
        max(CASE WHEN prop = 'name' THEN value END) AS name,
        max(CASE WHEN prop = 'foundingDate' THEN value END) AS founding,
        max(CASE WHEN prop = 'byArtist' THEN value END) AS by_artist
    FROM jl_props GROUP BY url, block_idx, item_type
), jm_typed AS (
    SELECT *, url || '#ld#' || lpad(CAST(block_idx AS VARCHAR), 4, '0') AS chunk_id,
        json_extract_string(TRY_CAST(by_artist AS JSON), 'name') AS artist
    FROM jm_blocks
    WHERE item_type IN ('MusicGroup', 'MusicAlbum', 'Person')
      AND name IS NOT NULL AND name <> ''
), jm_rows AS (
    SELECT 'mention' AS kind, chunk_id, url, block_idx AS chunk_index,
        CAST(0 AS INT) AS idx,
        CASE item_type WHEN 'MusicGroup' THEN 'band'
                       WHEN 'MusicAlbum' THEN 'album'
                       ELSE 'person' END AS entity_type,
        name, CAST(1.0 AS DOUBLE) AS confidence,
        CASE WHEN item_type = 'MusicGroup' THEN TRY_CAST(founding AS INT) END AS formed_year,
        CASE WHEN item_type = 'MusicAlbum' THEN name END AS title,
        CASE WHEN item_type = 'MusicAlbum' THEN artist END AS artist,
        CAST(NULL AS VARCHAR) AS rel_type,
        CAST(NULL AS VARCHAR) AS from_entity_type,
        CAST(NULL AS VARCHAR) AS from_entity_name,
        CAST(NULL AS VARCHAR) AS to_entity_type,
        CAST(NULL AS VARCHAR) AS to_entity_name
    FROM jm_typed
    UNION ALL
    SELECT 'rel', chunk_id, url, block_idx, CAST(1 AS INT),
        NULL, NULL, NULL, NULL, NULL, NULL,
        'RELEASED', 'band', artist, 'album', name
    FROM jm_typed
    WHERE item_type = 'MusicAlbum' AND artist IS NOT NULL AND artist <> ''
)
SELECT * FROM jm_rows ORDER BY url, chunk_index, kind"""
    )


def _pagemeta_fixture(spark, sf_dir):
    """Deterministic pages exercising the directive lanes: robots
    meta in both attribute orders (incl. none / non-restrictive),
    rel=nofollow and rel=ugc anchors, canonical links, hreflang
    pairs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    did = F.col("doc_id").cast("string")
    meta = (
        F.when(F.col("doc_id") % 4 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(F.col("doc_id") % 4 == 1,
              F.lit('<meta content="NOARCHIVE" name="ROBOTS">'))
        .when(F.col("doc_id") % 4 == 3,
              F.lit('<meta name="robots" content="all">'))
        .otherwise(F.lit(""))
    )
    anchors = F.concat(
        F.lit('<a href="http://x.com/a'), (F.col("doc_id") % 10).cast("string"),
        F.lit('">t</a>'),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit('<a rel="nofollow" href="http://x.com/b'),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit('">t</a>'))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit('<a href="http://x.com/c'),
                        (F.col("doc_id") % 10).cast("string"),
                        F.lit('" rel="ugc">t</a>'))).otherwise(F.lit("")),
    )
    links = F.concat(
        F.when(F.col("doc_id") % 2 == 0,
               F.concat(F.lit('<link rel="canonical" href="http://ex.com/c'),
                        (F.col("doc_id") % 20).cast("string"),
                        F.lit('">'))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(
                   F.lit('<link rel="Alternate" hreflang="EN" href="http://ex.com/d'),
                   did, F.lit('/en">'),
                   F.lit('<link rel="alternate" hreflang="de" href="http://ex.com/d'),
                   did, F.lit('/de">'),
               )).otherwise(F.lit("")),
    )
    return docs.select(
        F.concat(F.lit("http://ex.com/p"), did).alias("url"),
        F.concat(
            F.lit('<html><head><meta charset="utf-8">'), meta, links,
            F.lit("</head><body>"), anchors, F.lit("</body></html>"),
        ).alias("html"),
    )


_PM_SQL_PAGES = r"""
pm_pages AS (
    SELECT 'http://ex.com/p' || CAST(doc_id AS VARCHAR) AS url,
        '<html><head><meta charset="utf-8">'
        || CASE WHEN doc_id % 4 = 0 THEN '<meta name="robots" content="noindex, nofollow">'
                WHEN doc_id % 4 = 1 THEN '<meta content="NOARCHIVE" name="ROBOTS">'
                WHEN doc_id % 4 = 3 THEN '<meta name="robots" content="all">'
                ELSE '' END
        || CASE WHEN doc_id % 2 = 0 THEN '<link rel="canonical" href="http://ex.com/c' || CAST(doc_id % 20 AS VARCHAR) || '">' ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN
             '<link rel="Alternate" hreflang="EN" href="http://ex.com/d' || CAST(doc_id AS VARCHAR) || '/en">'
             || '<link rel="alternate" hreflang="de" href="http://ex.com/d' || CAST(doc_id AS VARCHAR) || '/de">'
           ELSE '' END
        || '</head><body>'
        || '<a href="http://x.com/a' || CAST(doc_id % 10 AS VARCHAR) || '">t</a>'
        || CASE WHEN doc_id % 3 = 0 THEN '<a rel="nofollow" href="http://x.com/b' || CAST(doc_id % 10 AS VARCHAR) || '">t</a>' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN '<a href="http://x.com/c' || CAST(doc_id % 10 AS VARCHAR) || '" rel="ugc">t</a>' ELSE '' END
        || '</body></html>' AS html
    FROM documents
)"""

_PM_SQL_ROBOTS = r"""
pm_meta AS (
    SELECT url, unnest(regexp_extract_all(html, '(?is)<meta\s[^>]*>', 0)) AS tag
    FROM pm_pages
), pm_tok AS (
    SELECT url,
        CASE WHEN lower(regexp_extract(tag, '(?is)\sname="([^"]*)"', 1)) = 'robots'
             THEN list_filter(list_transform(
                    string_split(lower(regexp_extract(tag, '(?is)\scontent="([^"]*)"', 1)), ','),
                    x -> trim(x)), x -> x <> '')
             ELSE [] END AS toks
    FROM pm_meta
), pm_flags AS (
    SELECT url, bool_or(list_contains(toks, 'noindex')) AS noindex,
           bool_or(list_contains(toks, 'nofollow')) AS nofollow,
           bool_or(list_contains(toks, 'noarchive')) AS noarchive
    FROM pm_tok GROUP BY url
)"""


def q_robots_meta(spark, sf_dir):
    """Page-level robots directives (operators/pagemeta.
    robots_directives): most-restrictive union of every
    <meta name="robots"> tag, attribute order independent. The oracle
    replays the two-stage tag-then-attribute regex parse."""
    from metal_history_knowledge_graph_spark.operators.pagemeta import (
        robots_directives,
    )

    return robots_directives(_pagemeta_fixture(spark, sf_dir)).orderBy("url")


def q_nofollow_links(spark, sf_dir):
    """Endorsement-aware anchor extraction (operators/pagemeta.
    anchors_with_rel): per-anchor rel=nofollow/ugc/sponsored OR the
    page-level robots nofollow — the edge flag a PageRank pass must
    respect (nofollow edges exist for discovery, carry no
    authority)."""
    from metal_history_knowledge_graph_spark.operators.pagemeta import (
        anchors_with_rel,
    )

    return anchors_with_rel(_pagemeta_fixture(spark, sf_dir)).orderBy(
        "url", "href", "nofollow"
    )


def q_hreflang(spark, sf_dir):
    """Declared translation sets (operators/pagemeta.
    hreflang_alternates): <link rel=alternate hreflang> rows — the
    publisher-confirmed bitext clusters next to operators/bitext.py's
    mined URL-template candidates."""
    from metal_history_knowledge_graph_spark.operators.pagemeta import (
        hreflang_alternates,
    )

    return hreflang_alternates(_pagemeta_fixture(spark, sf_dir)).orderBy(
        "url", "hreflang", "href"
    )


def _robots_meta_oracle() -> str:
    return (
        f"WITH {_PM_SQL_PAGES},{_PM_SQL_ROBOTS}\n"
        "SELECT p.url, coalesce(f.noindex, false) AS noindex,\n"
        "       coalesce(f.nofollow, false) AS nofollow,\n"
        "       coalesce(f.noarchive, false) AS noarchive\n"
        "FROM (SELECT DISTINCT url FROM pm_pages) p\n"
        "LEFT JOIN pm_flags f USING (url) ORDER BY url"
    )


def _nofollow_links_oracle() -> str:
    return (
        f"WITH {_PM_SQL_PAGES},{_PM_SQL_ROBOTS},\n"
        r"""pm_a AS (
    SELECT url, unnest(regexp_extract_all(html, '(?is)<a\s[^>]*>', 0)) AS tag
    FROM pm_pages
), pm_anchor AS (
    SELECT url,
        regexp_extract(tag, '(?is)\shref="([^"]*)"', 1) AS href,
        list_has_any(
            list_filter(list_transform(
                regexp_split_to_array(lower(regexp_extract(tag, '(?is)\srel="([^"]*)"', 1)), '[,\s]+'),
                x -> trim(x)), x -> x <> ''),
            ['nofollow', 'ugc', 'sponsored']) AS rel_nofollow
    FROM pm_a
)
SELECT a.url, a.href,
       (a.rel_nofollow OR coalesce(f.nofollow, false)) AS nofollow
FROM pm_anchor a LEFT JOIN pm_flags f USING (url)
WHERE a.href <> ''
ORDER BY url, href, nofollow"""
    )


def _hreflang_oracle() -> str:
    return (
        f"WITH {_PM_SQL_PAGES},\n"
        r"""pm_l AS (
    SELECT url, unnest(regexp_extract_all(html, '(?is)<link\s[^>]*>', 0)) AS tag
    FROM pm_pages
)
SELECT url,
       lower(regexp_extract(tag, '(?is)\shreflang="([^"]*)"', 1)) AS hreflang,
       regexp_extract(tag, '(?is)\shref="([^"]*)"', 1) AS href
FROM pm_l
WHERE lower(regexp_extract(tag, '(?is)\srel="([^"]*)"', 1)) = 'alternate'
  AND lower(regexp_extract(tag, '(?is)\shreflang="([^"]*)"', 1)) <> ''
  AND regexp_extract(tag, '(?is)\shref="([^"]*)"', 1) <> ''
ORDER BY url, hreflang, href"""
    )


def q_mad_outliers(spark, sf_dir):
    """Robust median/MAD outlier triage (operators/anomaly.
    mad_outliers) over per-host URL counts with a planted trap host
    (~1/7 of the corpus vs ~1/47 for ordinary hosts). Median and MAD
    are EXACT order statistics (operators/quantiles — rank
    ⌈N/2⌉, no approximation) and the flag is pure BIGINT
    (|dx|·674490 > thr·MAD·1000), so the oracle replays the whole
    decision with row_number() and integer arithmetic."""
    from metal_history_knowledge_graph_spark.operators.anomaly import (
        mad_outliers,
    )

    hosts = _t(spark, sf_dir, "documents").select(
        F.when(F.col("doc_id") % 7 == 0, F.lit("trap.com"))
        .otherwise(
            F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))
        )
        .alias("host")
    )
    counts = hosts.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_urls")
    )
    return mad_outliers(counts, "n_urls", sample_rate=1.0).select(
        "host", "n_urls", "med", "mad", "robust_z_milli", "is_outlier"
    ).orderBy("host")


def _mad_outliers_oracle(threshold_milli: int = 3500) -> str:
    return rf"""
WITH ao_hosts AS (
    SELECT CASE WHEN doc_id % 7 = 0 THEN 'trap.com'
                ELSE 'h' || CAST(doc_id % 40 AS VARCHAR) END AS host
    FROM documents
), ao_counts AS (
    SELECT host, CAST(count(*) AS BIGINT) AS n_urls
    FROM ao_hosts GROUP BY host
), ao_med AS (
    SELECT n_urls AS med FROM (
        SELECT n_urls, row_number() OVER (ORDER BY n_urls) AS rn,
               count(*) OVER () AS n
        FROM ao_counts)
    WHERE rn = (n + 1) // 2
), ao_dev AS (
    SELECT abs(n_urls - (SELECT med FROM ao_med)) AS adev FROM ao_counts
), ao_mad AS (
    SELECT adev AS mad FROM (
        SELECT adev, row_number() OVER (ORDER BY adev) AS rn,
               count(*) OVER () AS n
        FROM ao_dev)
    WHERE rn = (n + 1) // 2
)
SELECT c.host, c.n_urls, m.med, d.mad,
    CASE WHEN d.mad > 0
         THEN (abs(c.n_urls - m.med) * 674490) // (d.mad * 1000) END
        AS robust_z_milli,
    CASE WHEN d.mad > 0
         THEN abs(c.n_urls - m.med) * 674490 > {threshold_milli} * d.mad * 1000
         ELSE abs(c.n_urls - m.med) > 0 END AS is_outlier
FROM ao_counts c CROSS JOIN ao_med m CROSS JOIN ao_mad d
ORDER BY host"""


def q_cusum(spark, sf_dir):
    """CUSUM change-point scores (operators/changepoint.cusum_scores)
    over per-host tick series with a planted +15 level shift on h2
    from tick 40: the sequential max(0, S+d) recurrence computed as
    TWO window functions via the prefix-sum/min-drawdown closed form
    (recurrence equality pinned in test_changepoint), all BIGINT, so
    the DuckDB window replay is bit-exact. drift 12 absorbs the
    normal ±2 noise; threshold 60 ≈ five post-shift ticks."""
    from metal_history_knowledge_graph_spark.operators.changepoint import (
        cusum_scores,
    )

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 6).cast("string")).alias(
            "host"
        ),
        (F.col("doc_id") / 6).cast("long").alias("t"),
        (
            10
            + F.col("doc_id") % 3
            + F.when(
                (F.col("doc_id") % 6 == 2) & (F.col("doc_id") / 6 >= 40),
                F.lit(15),
            ).otherwise(F.lit(0))
        ).cast("long").alias("v"),
    )
    return cusum_scores(
        series, "host", "t", "v", drift=12, threshold=60
    ).orderBy("host", "t")


def _cusum_oracle(drift: int = 12, threshold: int = 60) -> str:
    return f"""
WITH cp AS (
    SELECT 'h' || CAST(doc_id % 6 AS VARCHAR) AS host,
           CAST(doc_id // 6 AS BIGINT) AS t,
           CAST(10 + doc_id % 3
                + CASE WHEN doc_id % 6 = 2 AND doc_id // 6 >= 40
                       THEN 15 ELSE 0 END AS BIGINT) AS v
    FROM documents
), cp1 AS (
    SELECT host, t, v,
        sum(v - {drift}) OVER (PARTITION BY host ORDER BY t, v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
    FROM cp
), cp2 AS (
    SELECT host, t, v,
        p - least(CAST(0 AS BIGINT), min(p) OVER (PARTITION BY host
            ORDER BY t, v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
    FROM cp1
)
SELECT host, t, v, CAST(cusum AS BIGINT) AS cusum,
       cusum > {threshold} AS alarm
FROM cp2 ORDER BY host, t"""


def q_cusum_onsets(spark, sf_dir):
    """First-alarm report (operators/changepoint.cusum_onsets) over
    the q_cusum fixture: exactly the planted host h2, at the tick
    where five post-shift surpluses cross the threshold — the number
    an incident report or recrawl planner consumes. min-struct
    partial agg over the scored rows; oracle replays via arg_min."""
    from metal_history_knowledge_graph_spark.operators.changepoint import (
        cusum_onsets,
    )

    docs = _t(spark, sf_dir, "documents")
    series = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 6).cast("string")).alias(
            "host"
        ),
        (F.col("doc_id") / 6).cast("long").alias("t"),
        (
            10
            + F.col("doc_id") % 3
            + F.when(
                (F.col("doc_id") % 6 == 2) & (F.col("doc_id") / 6 >= 40),
                F.lit(15),
            ).otherwise(F.lit(0))
        ).cast("long").alias("v"),
    )
    return cusum_onsets(
        series, "host", "t", "v", drift=12, threshold=60
    ).orderBy("host")


def _cusum_onsets_oracle(drift: int = 12, threshold: int = 60) -> str:
    base = _cusum_oracle(drift, threshold)
    prefix = base[: base.rindex("\nSELECT host, t, v")]
    return (
        prefix
        + f"""
SELECT host, CAST(min(t) AS BIGINT) AS onset_ts,
       CAST(arg_min(cusum, t) AS BIGINT) AS onset_cusum
FROM cp2 WHERE cusum > {threshold}
GROUP BY host ORDER BY host"""
    )


def q_langid_eval(spark, sf_dir):
    """Lang-ID confusion matrix (operators/textstats.langid_confusion)
    of the marker-word identifier against the documents table's
    labeled lang column — the measured-accuracy harness next to
    q_lang_id's raw predictions (the q_search_quality role for
    language routing). The oracle replays prediction + the labeled
    rollup in one statement."""
    from metal_history_knowledge_graph_spark.operators.textstats import (
        langid_confusion,
    )

    return langid_confusion(_t(spark, sf_dir, "documents")).orderBy(
        "label", "predicted"
    )


def _langid_eval_oracle() -> str:
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "x -> length(x) > 0)"
    )
    return f"""
WITH le_t AS (
    SELECT doc_id, lang, list_distinct({toks}) AS dt FROM documents
), le_hits AS (
    SELECT doc_id, lang,
        length(list_intersect(dt, ['the','and','of','to','in','is','was','that','with','for'])) AS h_en,
        length(list_intersect(dt, ['der','die','und','das','ist','ein','nicht','mit','von','auf'])) AS h_de,
        length(list_intersect(dt, ['le','la','et','les','des','est','une','dans','que','pour'])) AS h_fr,
        length(list_intersect(dt, ['el','la','de','que','los','una','por','con','para','del'])) AS h_es
    FROM le_t
), le_pred AS (
    SELECT lang AS label,
        CASE WHEN greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'und'
             WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
             WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
             WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
             ELSE 'es' END AS predicted
    FROM le_hits
)
SELECT label, predicted, CAST(count(*) AS BIGINT) AS n
FROM le_pred GROUP BY label, predicted
ORDER BY label, predicted"""


def q_blocklist(spark, sf_dir):
    """C4-style blocklist gate (operators/scrub.blocklist_gate):
    token-exact blocklist hits per document (substrings inside other
    words don't count) + the keep flag, over the shared whitespace
    tokenization. One narrow codegen projection; the oracle replays
    the token filter with the same list."""
    from metal_history_knowledge_graph_spark.operators.scrub import (
        blocklist_gate,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return blocklist_gate(docs, ["data", "merge"]).select(
        "doc_id", "n_blocklist_hits", "blocklist_keep"
    ).orderBy("doc_id")


def _blocklist_oracle() -> str:
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "x -> length(x) > 0)"
    )
    return f"""
WITH bl AS (SELECT doc_id, {toks} AS toks FROM documents)
SELECT doc_id,
       CAST(len(list_filter(toks, x -> x IN ('data', 'merge'))) AS BIGINT)
           AS n_blocklist_hits,
       len(list_filter(toks, x -> x IN ('data', 'merge'))) = 0
           AS blocklist_keep
FROM bl ORDER BY doc_id"""


def q_ams_f2(spark, sf_dir):
    """AMS tug-of-war F2 (self-join size) estimation (operators/ams):
    median-of-9 Z² over the orders.o_custkey%100 frequency vector,
    reported NEXT TO the exact Σf² and the integer ppm error — the
    accuracy audit IS the output. Signs are md5-nibble parities, so
    the DuckDB oracle replays the whole sketch (signs, sums, median,
    ppm) with zero tolerance."""
    from metal_history_knowledge_graph_spark.operators.ams import f2_estimate

    a = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).cast("string").alias("v")
    )
    return f2_estimate(a, "v")


def q_ams_join(spark, sf_dir):
    """AMS inner-product join-size estimation (operators/ams.
    join_size_estimate): |orders ⋈ lineitem| on bucketed keys
    (o_custkey%100 vs l_suppkey%100 — both sides carry real
    multiplicities) WITHOUT running the join — median of Z_j^A·Z_j^B
    against the exact Σ f_A·f_B. One narrow aggregate pass per table;
    the planner-side primitive CMS/HLL don't provide."""
    from metal_history_knowledge_graph_spark.operators.ams import (
        join_size_estimate,
    )

    a = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).cast("string").alias("v")
    )
    b = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 100).cast("string").alias("v")
    )
    return join_size_estimate(a, "v", b, "v")


_AMS_SIGN_SQL = (
    "CASE WHEN substr(md5(CAST({j} AS VARCHAR) || ':' || {v}), 1, 1)"
    " IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END"
)


def _ams_f2_oracle(k: int = 9) -> str:
    sign = _AMS_SIGN_SQL.format(j="t.j", v="v")
    return f"""
WITH amsa AS (SELECT CAST(o_custkey % 100 AS VARCHAR) AS v FROM orders),
amsz AS (
    SELECT t.j, CAST(sum({sign}) AS BIGINT) AS z
    FROM amsa CROSS JOIN (SELECT unnest(range({k})) AS j) t GROUP BY t.j
),
amsest AS (
    SELECT CAST(zsq AS BIGINT) AS f2_est FROM (
        SELECT z * z AS zsq, row_number() OVER (ORDER BY z * z, j) AS rn,
               count(*) OVER () AS n
        FROM amsz)
    WHERE rn = (n + 1) // 2
),
amsex AS (
    SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact FROM (
        SELECT v, CAST(count(*) AS BIGINT) AS f FROM amsa GROUP BY v)
)
SELECT f2_est, f2_exact,
       CAST(abs(f2_est - f2_exact) * 1000000 // f2_exact AS BIGINT) AS err_ppm
FROM amsest CROSS JOIN amsex"""


def _ams_join_oracle(k: int = 9) -> str:
    sign = _AMS_SIGN_SQL.format(j="t.j", v="v")
    return f"""
WITH ja AS (SELECT CAST(o_custkey % 100 AS VARCHAR) AS v FROM orders),
jb AS (SELECT CAST(l_suppkey % 100 AS VARCHAR) AS v FROM lineitem),
jza AS (
    SELECT t.j, CAST(sum({sign}) AS BIGINT) AS za
    FROM ja CROSS JOIN (SELECT unnest(range({k})) AS j) t GROUP BY t.j
),
jzb AS (
    SELECT t.j, CAST(sum({sign}) AS BIGINT) AS zb
    FROM jb CROSS JOIN (SELECT unnest(range({k})) AS j) t GROUP BY t.j
),
jest AS (
    SELECT CAST(zz AS BIGINT) AS join_est FROM (
        SELECT a.za * b.zb AS zz,
               row_number() OVER (ORDER BY a.za * b.zb, a.j) AS rn,
               count(*) OVER () AS n
        FROM jza a JOIN jzb b ON a.j = b.j)
    WHERE rn = (n + 1) // 2
),
jex AS (
    SELECT CAST(sum(fa.f * fb.f) AS BIGINT) AS join_exact
    FROM (SELECT v, CAST(count(*) AS BIGINT) AS f FROM ja GROUP BY v) fa
    JOIN (SELECT v, CAST(count(*) AS BIGINT) AS f FROM jb GROUP BY v) fb
      ON fa.v = fb.v
)
SELECT join_est, join_exact,
       CAST(abs(join_est - join_exact) * 1000000 // join_exact AS BIGINT)
           AS err_ppm
FROM jest CROSS JOIN jex"""


def q_profile(spark, sf_dir):
    """Single-pass table profile (operators/profile.py) in exact mode
    over the documents table; the oracle replays every per-column
    metric (rows, nulls, exact distinct, min/max as strings) in
    DuckDB. At scale the same operator runs with HLL distincts in the
    identical one-scan plan (exact=False default)."""
    from metal_history_knowledge_graph_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "documents"), exact=True)


_LSH_PLANES_PATH = _export("lsh_planes")
_LSH_TOPK_PLANES_PATH = _export("lsh_topk_planes")
_NEARDUP_PLANES_PATH = _export("neardup_planes")
_IVF_CENTROIDS_PATH = _export("ivf_centroids")
_IVF_ASSIGN_PATH = _export("ivf_assign")
_PQ_CODEBOOK_PATH = _export("pq_codebook")
_IVFPQ_CENT_PATH = _export("ivfpq_centroids")
_IVFPQ_CB_PATH = _export("ivfpq_codebook")


def q_lsh_buckets(spark, sf_dir):
    """Hyperplane-LSH bucket-assignment decision oracle (the same
    export pattern as td_simhash_pairs): Spark EXPORTS the
    deterministic hyperplane bank, builds the (table, bucket) index
    with operators/simsearch.lsh_build, and returns the per-bucket
    census; DuckDB replays the sign-bit assignment over the exported
    planes with the identical left-to-right double summation
    (list_reduce starting at 0.0 — bit-exact vs Spark's F.aggregate
    fold) and must land on the same buckets. This upgrades the ANN
    family's bucket decision from rows-only to oracle-checked; the
    ranking itself remains bounded by q_cosine_topk."""
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        hyperplanes_rows,
        lsh_build,
    )

    embs = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    dim = len(embs.select("embedding").head()[0])
    spark.createDataFrame(
        hyperplanes_rows(dim, n_planes=8, num_tables=4),
        "tbl int, plane_idx int, components array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_LSH_PLANES_PATH)
    index = lsh_build(embs, n_planes=8, num_tables=4)
    return (
        index.groupBy("table", "bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_id"))
        .select(
            F.col("table").cast("int").alias("tbl"),
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            "min_id",
        )
    )


def q_training_export(spark, sf_dir):
    """The COMPOSED training-export pipeline (plans/export.py):
    Gopher quality gate → PII redaction → exact dedup over redacted
    text → n-gram decontamination → leakage-safe split → shard + pack,
    end to end, with the whole decision chain replayed exactly in one
    DuckDB query. Input is the documents table deterministically
    augmented with PII (as q_pii_redact) plus injected exact
    duplicates (ids +100000 cloning doc_id < 25) so the dedup gate has
    work; benchmark = the doc_id % 29 == 0 slice of the originals."""
    from metal_history_knowledge_graph_spark.plans.export import training_export

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(F.lit(" call 555-123-"),
                         F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    benchmark = aug.filter(F.col("doc_id") % 29 == 0)
    dups = aug.unionByName(
        aug.filter(F.col("doc_id") < 25).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return training_export(
        dups, benchmark, capacity=512, n_shards=8, test_frac=0.1,
        seed=0, ngram_n=5,
    )


def q_cosine_neardup(spark, sf_dir):
    """Exact all-pairs embedding-cosine near-dup decision (the
    baseline the hyperplane-bucketed variant is recall-tested
    against): inject exact duplicates, keep pairs with cosine ≥ 0.9.
    Oracle replays the same pairs via DuckDB list_cosine_similarity."""
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        cosine_near_duplicates_exact,
    )

    embs = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    dups = embs.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    # 0.25 (vs the usual 0.95) so the synthetic random embeddings
    # produce ~3k NATURAL pairs, not just the injected cosine=1.0 dups.
    # Membership-only output: the cosine VALUES are already
    # exact-oracled by q_cosine_topk; here 1-ulp cross-engine rounding
    # at 4dp would make value-hashing flaky, while the keep/drop
    # decision is deterministic (verified: no pair in the static
    # testdata is within 1.4e-5 of the boundary on either engine,
    # ~20x the observed cross-engine float drift).
    return cosine_near_duplicates_exact(
        embs.unionByName(dups), threshold=0.25
    ).select("doc_a", "doc_b")


def q_exact_dup_groups(spark, sf_dir):
    from metal_history_knowledge_graph_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return exact_duplicates(injected).select(
        "fingerprint", "keep_id", F.col("group_size").cast("long").alias("group_size")
    )


def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware exact dedup (operators/dedup.dedup_keep_best):
    duplicate copies injected with DIFFERENT quality scores; the
    survivor per fingerprint is the best-scoring copy (ties by min
    id), with n_dropped accounting for downstream mix weighting. The
    DuckDB oracle replays the fingerprint, the (score desc, id) rank,
    and the group counts."""
    from metal_history_knowledge_graph_spark.operators.dedup import dedup_keep_best

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", ((F.col("doc_id") * 13) % 101).cast("long").alias("score")
    )
    injected = docs.unionByName(
        docs.filter(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text",
            (((F.col("doc_id") + 100000) * 13) % 101).cast("long").alias("score"),
        )
    )
    out = dedup_keep_best(injected, score_col="score")
    return (
        out.filter(F.col("n_dropped") > 0)
        .select("doc_id", "score", "n_dropped")
        .orderBy("doc_id")
    )


def _dedup_keep_best_oracle() -> str:
    return r"""
        WITH all_docs AS (
            SELECT doc_id, text,
                   CAST((doc_id * 13) % 101 AS BIGINT) AS score
            FROM documents
            UNION ALL
            SELECT doc_id + 100000, text,
                   CAST(((doc_id + 100000) * 13) % 101 AS BIGINT)
            FROM documents WHERE doc_id < 50
        ), fp AS (
            SELECT doc_id, score,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
            FROM all_docs
        ), ranked AS (
            SELECT doc_id, score,
                   row_number() OVER (PARTITION BY f
                       ORDER BY score DESC, doc_id) AS rn,
                   count(*) OVER (PARTITION BY f) AS n
            FROM fp
        )
        SELECT doc_id, score, CAST(n - 1 AS BIGINT) AS n_dropped
        FROM ranked WHERE rn = 1 AND n >= 2
        ORDER BY doc_id
    """


def q_wordset_jaccard(spark, sf_dir):
    """Word-set Jaccard pairs over a bounded doc subset — the exact
    n-gram dedup decision function with an ANSI-SQL oracle."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.array_sort(F.array_distinct(F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            ))).alias("words"),
        )
    )
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("words").alias("wa"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("words").alias("wb"))
    inter = F.size(F.array_intersect("wa", "wb"))
    union = F.size("wa") + F.size("wb") - inter
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", F.round(inter / union, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_cosine_topk(spark, sf_dir):
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _dot,
        with_l2_normalized,
    )

    embs = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    row = embs.filter(F.col("vec_id") == 0).head()
    import math

    qn = math.sqrt(sum(v * v for v in row.embedding)) or 1.0
    q = F.array(*[F.lit(float(v) / qn) for v in row.embedding])
    scored = with_l2_normalized(embs).withColumn(
        # round BEFORE ordering so tie-breaks match the SQL oracle
        "cosine", F.round(_dot(F.col("unit_vec"), q), 4)
    )
    return (
        scored.select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def q_hybrid_rank(spark, sf_dir):
    """Hybrid 0.7·semantic + 0.3·keyword rank over documents ⋈
    embeddings with a precomputed query vector — the full-outer-merge
    decision function of the hybrid-search family, exactly
    SQL-expressible (reference api/semantic_search.py:325-455)."""
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        hybrid_search_vec,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("doc"), F.lower(F.trim("text")).alias("text_norm")
    )
    vecs = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    qvec = [float(v) for v in
            vecs.filter(F.col("doc") == 0).head().embedding]
    return hybrid_search_vec(
        docs, vecs, qvec, keyword="data", k=15,
        id_col="doc", text_col="text_norm",
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing gate: documents → binary media column →
    Arrow-batched mapInPandas feature extraction. The metadata outputs
    (byte count, sha256) are exactly SQL-expressible, so the whole
    binary-column + vectorized-UDF path gets a DuckDB oracle; the
    stubbed feature vector itself is covered by unit tests."""
    from metal_history_knowledge_graph_spark.operators.multimodal import (
        extract_media_features,
    )

    media = (
        _t(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            F.col("doc_id").alias("media_id"),
            F.element_at(
                F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("kind"),
            F.encode("text", "utf-8").alias("content"),
        )
    )
    return extract_media_features(media).select(
        "media_id", "kind", F.col("n_bytes").cast("long").alias("n_bytes"), "sha256"
    )


def _embs_query0(spark, sf_dir):
    embs = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    row = embs.filter(F.col("vec_id") == 0).head()
    return embs, [float(v) for v in row.embedding]


def q_ivf_fullprobe(spark, sf_dir):
    """IVF index correctness gate: build the inverted file (distributed
    deterministic k-means), probe ALL lists — the union of inverted
    lists must be a complete partition of the table, so the result
    equals the exact brute-force top-k (same oracle as q_cosine_topk)."""
    import math

    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _dot,
        ivf_build,
        with_l2_normalized,
    )

    embs, q = _embs_query0(spark, sf_dir)
    centroids, assigned = ivf_build(embs, n_centroids=8, n_iters=2)
    qn = math.sqrt(sum(v * v for v in q)) or 1.0
    qarr = F.array(*[F.lit(v / qn) for v in q])
    # Probe ALL lists explicitly: the cluster.isin filter means a
    # null/out-of-range assignment would DROP that row and the oracle
    # compare would catch it — the gate really does validate that the
    # inverted lists are a complete partition of the table.
    probed = assigned.filter(F.col("cluster").isin(list(range(len(centroids)))))
    scored = with_l2_normalized(probed).withColumn(
        "cosine", F.round(_dot(F.col("unit_vec"), qarr), 4)
    )
    return (
        scored.select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def td_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (nprobe=3 of 8 lists) DECISION oracle
    (closes VERDICT r2 'What's wrong' #1 — this was the one
    `no_oracle` driver row): the deterministic index — centroid table
    + cluster assignments from simsearch.ivf_build — is EXPORTED, and
    DuckDB replays the search decision over the same index: rank
    centroids by query dot product (bit-exact left-fold over the same
    exported doubles, the q_lsh_buckets pattern), take the nprobe=3
    nearest inverted lists, exact-cosine re-rank inside them. The
    full-probe completeness gate stays in q_ivf_fullprobe."""
    import math

    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _dot,
        ivf_build,
        with_l2_normalized,
    )

    embs, q = _embs_query0(spark, sf_dir)
    centroids, assigned = ivf_build(embs, n_centroids=8, n_iters=2)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_IVF_CENTROIDS_PATH)
    assigned.select("vec_id", "cluster").coalesce(1).write.mode(
        "overwrite").parquet(_IVF_ASSIGN_PATH)
    # the ivf_topk probe decision (same ranking expression,
    # simsearch.py ivf_topk), with 4dp rounding BEFORE ordering so the
    # tie-break matches the SQL oracle (the q_cosine_topk convention)
    qn = math.sqrt(sum(v * v for v in q)) or 1.0
    qunit = [v / qn for v in q]
    ranked = sorted(
        range(len(centroids)),
        key=lambda c: (-sum(a * b for a, b in zip(qunit, centroids[c])), c),
    )
    probe = ranked[:3]
    cand = assigned.filter(F.col("cluster").isin(probe))
    qarr = F.array(*[F.lit(v) for v in qunit])
    scored = with_l2_normalized(cand).withColumn(
        "cosine", F.round(_dot(F.col("unit_vec"), qarr), 4)
    )
    return (
        scored.select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def td_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (operators/pq.py) with a FULL
    decision oracle: only the trained codebook (4 subspaces × 16
    centroids — itself deterministic, pinned by test_pq) is exported;
    DuckDB then replays the entire search — unit normalization,
    per-subspace nearest-centroid ENCODING (argmin over bit-exact
    squared-L2 left-folds, ties → smallest code), the query's ADC
    lookup table, and the subspace-ordered score fold — and must
    reproduce the same top-10. Completes the ANN ladder: brute-force
    → hyperplane LSH → IVF → PQ."""
    from metal_history_knowledge_graph_spark.operators.pq import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    embs, q = _embs_query0(spark, sf_dir)
    books = pq_train(embs, m=4, ks=16, n_iters=2)
    spark.createDataFrame(
        [(s, c, books[s][c]) for s in range(4) for c in range(16)],
        "sub int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_PQ_CODEBOOK_PATH)
    codes = pq_encode(embs, books)
    return pq_topk(codes, books, q, k=10)


def td_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composed search (operators/pq.ivfpq_build/ivfpq_topk —
    the Faiss IVFx,PQy shape: coarse k-means lists + shared
    residual-PQ codebook, score = q·c_list + ADC(residual)). Exports
    ONLY the two model tables (8 coarse centroids, 4×16 residual
    codebook); DuckDB replays everything downstream — normalization,
    coarse assignment (argmax-dot, ties → smallest cluster), residual
    computation, residual encoding (argmin squared-L2, ties →
    smallest code), probe selection, the query LUT, and the base +
    subspace-ordered score fold. The deepest decision oracle in the
    ANN family: a bug anywhere in the composed path breaks the
    top-10."""
    from metal_history_knowledge_graph_spark.operators.pq import (
        ivfpq_build,
        ivfpq_topk,
    )

    embs, q = _embs_query0(spark, sf_dir)
    centroids, books, enc = ivfpq_build(
        embs, n_centroids=8, coarse_iters=2, m=4, ks=16, pq_iters=2
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_IVFPQ_CENT_PATH)
    spark.createDataFrame(
        [(s, c, books[s][c]) for s in range(4) for c in range(16)],
        "sub int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_IVFPQ_CB_PATH)
    return ivfpq_topk(enc, centroids, books, q, k=10, nprobe=3)


def q_neardup_bands(spark, sf_dir):
    """Multi-table OR-banded embedding near-dup DECISION oracle
    (closes VERDICT r2 'What's wrong' #2): Spark exports the
    num_tables×n_planes hyperplane bank; DuckDB replays the unit
    normalization, every per-table sign-bucket assignment (bit-exact
    left-fold over the exported planes), the ≥1-shared-bucket OR
    across tables, and the exact-cosine verify — and must land on the
    identical pair set. Membership-only output (cosine VALUES are
    oracled by q_cosine_topk / q_cosine_neardup; threshold 0.25 keeps
    the decision ≥20× the observed cross-engine float drift from the
    boundary, as q_cosine_neardup)."""
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        embedding_near_duplicates,
        hyperplanes_rows,
    )

    embs = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = embs.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    aug = embs.unionByName(dups)
    dim = len(embs.select("embedding").head()[0])
    spark.createDataFrame(
        hyperplanes_rows(dim, n_planes=8, num_tables=4),
        "tbl int, plane_idx int, components array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_NEARDUP_PLANES_PATH)
    return embedding_near_duplicates(
        aug, threshold=0.25, n_planes=8, num_tables=4
    ).select("doc_a", "doc_b")


def q_search_quality(spark, sf_dir):
    """Retrieval-quality metrics — mean precision@10 / recall@10 /
    MRR@10 over a labeled query set (reference
    scripts/search/benchmark_search.py:97-148) — with an END-TO-END
    oracle: queries are the 10 embeddings with vec_id < 10, labels are
    3 injected exact clones per query (vec_id = 20000 + 3q + j), the
    ranking is ONE broadcast batch_topk pass over the augmented table,
    and DuckDB replays ranking + metric arithmetic. The metric values
    are rank-flip-proof: every relevant doc sits at exact cosine 1.0,
    so 1-ulp ordering noise among irrelevant docs cannot change any
    hit count or first-hit rank."""
    from metal_history_knowledge_graph_spark.operators.search_quality import (
        mean_ranking_quality,
    )
    from metal_history_knowledge_graph_spark.operators.simsearch import batch_topk

    embs = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries10 = embs.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    clones = queries10.select(
        "query_id", "query_vec",
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
    ).select(
        "query_id",
        (F.lit(20000) + 3 * F.col("query_id") + F.col("j")).alias("vec_id"),
        F.col("query_vec").alias("embedding"),
    )
    aug = embs.unionByName(clones.select("vec_id", "embedding"))
    ranking = batch_topk(aug, queries10, k=10)
    labels = clones.select("query_id", "vec_id")
    return mean_ranking_quality(ranking, labels, k=10, id_col="vec_id")


# --- graph-algorithm catalog over derived edge tables (oracle-checked) --------
#
# The kg_* graph queries run over the pipeline-built entity graph and are
# rows-only; these run the SAME algorithms (label-propagation connected
# components, bounded-frontier BFS, mutual-edge detection, triangle
# counting, collect_list) over edge tables derived deterministically from
# the TPC-H-ish testdata, where an exact DuckDB oracle (including a
# recursive CTE for BFS) is expressible.

_GRAPH_N = 500  # node-id space of the derived functional graph


def _derived_edges(spark, sf_dir):
    """Deterministic sparse directed graph from orders: node = o_orderkey
    mod N, out-edges s→s+1, s→s+2 (ring — guarantees triangles) and
    s→7s+1 (long-range — branching BFS + occasional mutual pairs)."""
    n = _GRAPH_N
    nodes = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % n).alias("src"))
        .distinct()
    )
    e = (
        nodes.select("src", ((F.col("src") + 1) % n).alias("dst"))
        .unionByName(nodes.select("src", ((F.col("src") + 2) % n).alias("dst")))
        .unionByName(nodes.select("src", ((F.col("src") * 7 + 1) % n).alias("dst")))
    )
    return e.filter(F.col("src") != F.col("dst")).distinct()


_DERIVED_EDGES_SQL = f"""
    nodes AS (SELECT DISTINCT o_orderkey % {_GRAPH_N} AS src FROM orders),
    e AS (
        SELECT src, (src + 1) % {_GRAPH_N} AS dst FROM nodes
        UNION
        SELECT src, (src + 2) % {_GRAPH_N} AS dst FROM nodes
        UNION
        SELECT src, (src * 7 + 1) % {_GRAPH_N} AS dst FROM nodes
    ),
    edges AS (SELECT src, dst FROM e WHERE src <> dst)
"""


def _pagerank_oracle(n_iters: int = 5, damping: int = 85, scale: int = 10**12,
                     edges_sql: str | None = None,
                     final_sql: str | None = None) -> str:
    """Chained-CTE DuckDB replay of operators/graph_algos.pagerank:
    one CTE per iteration, all arithmetic integer floor-divides, so the
    oracle reproduces the Spark trajectory bit-exactly (DuckDB sum()
    yields HUGEINT — cast back to BIGINT at every step).

    ``edges_sql`` overrides the edge-list CTE (must define ``edges``
    with DISTINCT self-loop-free (src, dst) — the operator's own input
    normalization); ``final_sql`` overrides the final SELECT (referring
    to ``r{n_iters}``) for variants that join names / cut a top-k."""
    ctes = [
        f"WITH {edges_sql or _DERIVED_EDGES_SQL}",
        "pnodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "params AS (SELECT count(*) AS n FROM pnodes)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS r "
        "FROM pnodes CROSS JOIN params)",
    ]
    for k in range(1, n_iters + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"r{k} AS (\n"
            f"  SELECT p.node, CAST(\n"
            f"    (({100 - damping} * {scale}) // (100 * params.n))\n"
            f"    + ({damping} * coalesce(s.contrib, 0)) // 100\n"
            f"  AS BIGINT) AS r\n"
            f"  FROM pnodes p CROSS JOIN params\n"
            f"  LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum({prev}.r // deg.outdeg) AS BIGINT) AS contrib\n"
            f"    FROM edges e2\n"
            f"    JOIN {prev} ON e2.src = {prev}.node\n"
            f"    JOIN deg ON e2.src = deg.src\n"
            f"    GROUP BY e2.dst\n"
            f"  ) s ON p.node = s.node\n"
            f")"
        )
    final = final_sql or (
        f"SELECT node AS node_id, r AS rank_fixed FROM r{n_iters} ORDER BY node_id"
    )
    return ",\n".join(ctes) + "\n" + final


def _hits_oracle(n_iters: int = 5, scale: int = 10**9) -> str:
    """Chained-CTE DuckDB replay of operators/graph_algos.hits: per
    iteration one authority CTE then one hub CTE, each L1-normalized
    with a scalar-subquery total and a BIGINT floor-divide — the exact
    trajectory (sums are HUGEINT in DuckDB, cast back to BIGINT; all
    true values stay < 2^63 by the scale=10^9 magnitude bound proven
    in the hits() docstring)."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        "hnodes AS MATERIALIZED "
        "(SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "hparams AS (SELECT count(*) AS n FROM hnodes)",
        f"h0 AS MATERIALIZED (SELECT node, CAST({scale} // n AS BIGINT) AS h "
        "FROM hnodes CROSS JOIN hparams)",
    ]
    for k in range(1, n_iters + 1):
        prev_h = f"h{k - 1}"
        ctes.append(
            f"a{k}_raw AS MATERIALIZED (\n"
            f"  SELECT e2.dst AS node, CAST(sum(p.h) AS BIGINT) AS raw\n"
            f"  FROM edges e2 JOIN {prev_h} p ON e2.src = p.node\n"
            f"  GROUP BY e2.dst\n"
            f")"
        )
        ctes.append(
            f"a{k} AS MATERIALIZED (\n"
            f"  SELECT n.node, CAST(\n"
            f"    (coalesce(r.raw, 0) * {scale})\n"
            f"    // greatest((SELECT CAST(coalesce(sum(raw), 0) AS BIGINT)"
            f" FROM a{k}_raw), 1)\n"
            f"  AS BIGINT) AS a\n"
            f"  FROM hnodes n LEFT JOIN a{k}_raw r ON n.node = r.node\n"
            f")"
        )
        ctes.append(
            f"h{k}_raw AS MATERIALIZED (\n"
            f"  SELECT e2.src AS node, CAST(sum(p.a) AS BIGINT) AS raw\n"
            f"  FROM edges e2 JOIN a{k} p ON e2.dst = p.node\n"
            f"  GROUP BY e2.src\n"
            f")"
        )
        ctes.append(
            f"h{k} AS MATERIALIZED (\n"
            f"  SELECT n.node, CAST(\n"
            f"    (coalesce(r.raw, 0) * {scale})\n"
            f"    // greatest((SELECT CAST(coalesce(sum(raw), 0) AS BIGINT)"
            f" FROM h{k}_raw), 1)\n"
            f"  AS BIGINT) AS h\n"
            f"  FROM hnodes n LEFT JOIN h{k}_raw r ON n.node = r.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT h{n_iters}.node AS node_id, h{n_iters}.h AS hub_fixed,"
        f" a{n_iters}.a AS auth_fixed\n"
        f"FROM h{n_iters} JOIN a{n_iters} ON h{n_iters}.node = a{n_iters}.node\n"
        f"ORDER BY node_id"
    )


def q_components(spark, sf_dir):
    """Distributed connected components (iterative min-label
    propagation, graph_metrics.py:97-175 family) over the
    region←nation←supplier/customer hierarchy; component_id = min node
    id in component = the region key, so membership is exactly
    SQL-checkable."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        graph_components,
    )

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    e1 = nation.select(
        (F.col("n_nationkey") + 100).cast("long").alias("subj_id"),
        F.col("n_regionkey").cast("long").alias("obj_id"),
    )
    # offsets sized for sf >= 1 key ranges so node-id spaces can never
    # collide (regions 0..99, nations 100.., suppliers 1M.., customers 100M..)
    e2 = supplier.select(
        (F.col("s_suppkey") + 1_000_000).cast("long").alias("subj_id"),
        (F.col("s_nationkey") + 100).cast("long").alias("obj_id"),
    )
    e3 = customer.select(
        (F.col("c_custkey") + 100_000_000).cast("long").alias("subj_id"),
        (F.col("c_nationkey") + 100).cast("long").alias("obj_id"),
    )
    edges = e1.unionByName(e2).unionByName(e3)
    return (
        graph_components(edges, driver_edge_limit=0)  # force distributed path
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("component_id")
    )


def q_components_inc(spark, sf_dir):
    """Incremental connected components
    (graph_algos.components_incremental — the graph twin of the
    incremental MinHash/SimHash/IVF maintenance paths): stored labels
    are built WITHOUT the nation→region edges (per-nation star
    components), then the nation→region batch is folded in — every
    batch effect is exercised (component MERGES as the 5 nation stars
    per region collapse, plus the region nodes attach as unseen
    nodes). The result must equal the full recompute, so the SAME
    closed-form hierarchy oracle as q_components applies."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        components_incremental,
        graph_components,
    )

    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    e1 = nation.select(
        (F.col("n_nationkey") + 100).cast("long").alias("subj_id"),
        F.col("n_regionkey").cast("long").alias("obj_id"),
    )
    e2 = supplier.select(
        (F.col("s_suppkey") + 1_000_000).cast("long").alias("subj_id"),
        (F.col("s_nationkey") + 100).cast("long").alias("obj_id"),
    )
    e3 = customer.select(
        (F.col("c_custkey") + 100_000_000).cast("long").alias("subj_id"),
        (F.col("c_nationkey") + 100).cast("long").alias("obj_id"),
    )
    labels = graph_components(e2.unionByName(e3))
    inc = components_incremental(labels, e1)
    return (
        inc.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("component_id")
    )


def q_bfs_hops(spark, sf_dir):
    """Bounded BFS (shortest-path hops ≤4 from node 0) via iterative
    frontier joins (query_pattern_tester.py:365-373 family)."""
    e = _derived_edges(spark, sf_dir)
    visited = spark.createDataFrame([(0, 0)], "node long, hops long")
    frontier = visited
    for h in range(1, 5):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.orderBy("node")


def q_mutual_edges(spark, sf_dir):
    """Mutual-edge detection A→B ∧ B→A (query_pattern_tester.py:74-80)."""
    e = _derived_edges(spark, sf_dir)
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        e.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .orderBy("a", "b")
    )


def q_triangles(spark, sf_dir):
    """Triangle counting via 3-way self-join on the normalized
    undirected edge set (clustering-coefficient numerator,
    graph_metrics.py:177-227)."""
    e = _derived_edges(spark, sf_dir)
    u = (
        e.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    ab = u.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = u.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = u.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return (
        ab.join(bc, "y")
        .join(ac, ["x", "z"])
        .select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c"))
        .orderBy("a", "b", "c")
    )


def q_betweenness(spark, sf_dir):
    """Sampled-BFS betweenness over the derived edge graph — the
    min-parent shortest-path-tree decision (operators/graph_algos.py)
    replayed exactly in DuckDB: BFS levels via a bounded recursive CTE,
    parent(v) = min neighbor at dist−1, recursive parent-chain walk
    counting interiors. Turns the betweenness family from rows-only
    into oracle-checked."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        betweenness_sampled,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return (
        betweenness_sampled(e, n_sources=16, max_hops=6)
        .select("node_id", F.col("betweenness").cast("long").alias("betweenness"))
        .orderBy("node_id")
    )


def q_clustering(spark, sf_dir):
    """Local clustering coefficient over the derived edge graph —
    triangle numerator (q_triangles oracle) divided by deg·(deg−1)/2
    (graph_metrics.py:177-227), exercised through the real catalog
    operator."""
    from metal_history_knowledge_graph_spark.plans.queries import (
        clustering_coefficient,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return (
        clustering_coefficient(e)
        .select(
            F.col("node_id").alias("node"),
            F.col("degree").cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            "clustering",
        )
        .orderBy("node")
    )


def q_path_enum(spark, sf_dir):
    """Node-simple directed path enumeration ≤4 hops from sampled
    roots (the longest-influence-chain / genre-evolution family,
    graph_metrics.py:358-399) via the iterative frontier-extend
    operator; DuckDB replays it with a recursive CTE carrying the
    same accumulated-path cycle filter."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        path_enumeration,
    )

    e = _derived_edges(spark, sf_dir)
    roots = e.select("src").filter(F.col("src") < 40).distinct()
    return (
        path_enumeration(e, max_hops=4, roots=roots)
        .select(
            "src", "dst", "hops",
            F.array_join(
                F.expr("transform(path, x -> cast(x as string))"), "->"
            ).alias("path_str"),
        )
        .orderBy(F.desc("hops"), "path_str")
    )


def q_path_stats(spark, sf_dir):
    """Shortest-path-length distribution over sampled (root, node)
    pairs (graph_metrics.py:330-356 — the sampled
    avg/median/max/Counter path analysis; the Counter IS this
    distribution). Multi-source frontier-join BFS, min-hop semantics,
    node > root mirroring the reference's n.id < m.id pair filter."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        path_length_distribution,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return path_length_distribution(e, n_sources=16, max_hops=8)


def q_collect_list(spark, sf_dir):
    """Ordered collect_list aggregation (band→genres family,
    query_pattern_tester.py:104-110), joined string for an exact
    oracle compare."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("suppliers"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


def q_word_freq(spark, sf_dir):
    """Explode/unnest token frequency top-20 (UDTF-style 1→N operator
    with exact oracle)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        ).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(20)
    )


def q_pagerank(spark, sf_dir):
    """Fixed-point integer PageRank over the derived edge graph
    (operators/graph_algos.pagerank): 5 damped iterations, every divide
    an integer floor-divide, so the whole trajectory is replayed
    bit-exactly by the chained-CTE DuckDB oracle — an iterative graph
    algorithm with an EXACT oracle, not a tolerance compare."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import pagerank

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return pagerank(e, n_iters=5).orderBy("node_id")


def q_ppr(spark, sf_dir):
    """Personalized (seed-teleport) PageRank (operators/graph_algos.
    pagerank_personalized): teleport mass returns only to seeds 0..9,
    so rank measures proximity to the seed set — the focused-crawl
    scorer. Same fixed-point BIGINT trajectory as q_pagerank with the
    teleport term gated to seeds; the chained-CTE DuckDB oracle
    replays all 5 iterations bit-exactly, including the exact zeros
    on unreachable nodes."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank_personalized,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    seeds = spark.range(10).select(F.col("id").cast("long").alias("node"))
    return pagerank_personalized(e, seeds, n_iters=5).orderBy("node_id")


def _ppr_oracle(n_iters: int = 5, damping: int = 85, scale: int = 10**12,
                n_seeds: int = 10) -> str:
    """Chained-CTE replay of pagerank_personalized with seeds 0..9."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        f"pseeds AS (SELECT CAST(range AS BIGINT) AS node FROM range({n_seeds}))",
        "pnodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges "
        "UNION SELECT node FROM pseeds)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        f"r0 AS (SELECT n.node, CAST(CASE WHEN s.node IS NOT NULL"
        f" THEN {scale} // {n_seeds} ELSE 0 END AS BIGINT) AS r"
        f" FROM pnodes n LEFT JOIN pseeds s ON n.node = s.node)",
    ]
    teleport = ((100 - damping) * scale) // (100 * n_seeds)
    for k in range(1, n_iters + 1):
        prev = f"r{k - 1}"
        ctes.append(
            f"r{k} AS (\n"
            f"  SELECT p.node, CAST(\n"
            f"    (CASE WHEN sd.node IS NOT NULL THEN {teleport} ELSE 0 END)\n"
            f"    + ({damping} * coalesce(s.contrib, 0)) // 100\n"
            f"  AS BIGINT) AS r\n"
            f"  FROM pnodes p\n"
            f"  LEFT JOIN pseeds sd ON p.node = sd.node\n"
            f"  LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum({prev}.r // deg.outdeg) AS BIGINT) AS contrib\n"
            f"    FROM edges e2\n"
            f"    JOIN {prev} ON e2.src = {prev}.node\n"
            f"    JOIN deg ON e2.src = deg.src\n"
            f"    GROUP BY e2.dst\n"
            f"  ) s ON p.node = s.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, r AS rank_fixed FROM r{n_iters} ORDER BY node_id"
    )


def q_pagerank_weighted(spark, sf_dir):
    """Edge-weighted PageRank (operators/graph_algos.pagerank_weighted)
    over the derived graph with deterministic weights
    ((src + dst) mod 7 + 1): rank splits over out-edges proportional
    to weight — the host-graph variant where link counts matter. The
    two-step floor divide ((r div W)·w) keeps every product bounded;
    the chained-CTE DuckDB oracle replays the exact trajectory."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank_weighted,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id"),
        ((F.col("src") + F.col("dst")) % 7 + 1).cast("long").alias("weight"),
    )
    return pagerank_weighted(e, n_iters=5).orderBy("node_id")


def _pagerank_weighted_oracle(
    n_iters: int = 5, damping: int = 85, scale: int = 10**12
) -> str:
    """Chained-CTE replay of pagerank_weighted with the derived
    weights; the (r // W) * w order of operations must match."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        "wedges AS MATERIALIZED (SELECT src, dst,"
        " CAST((src + dst) % 7 + 1 AS BIGINT) AS w FROM edges)",
        "wnodes AS (SELECT src AS node FROM wedges UNION SELECT dst FROM wedges)",
        "wparams AS (SELECT count(*) AS n FROM wnodes)",
        "wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot"
        " FROM wedges GROUP BY 1)",
        f"w0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS r "
        "FROM wnodes CROSS JOIN wparams)",
    ]
    for k in range(1, n_iters + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"w{k} AS (\n"
            f"  SELECT p.node, CAST(\n"
            f"    (({100 - damping} * {scale}) // (100 * wparams.n))\n"
            f"    + ({damping} * coalesce(s.contrib, 0)) // 100\n"
            f"  AS BIGINT) AS r\n"
            f"  FROM wnodes p CROSS JOIN wparams\n"
            f"  LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum(({prev}.r // wdeg.wtot) * e2.w) AS BIGINT)"
            f" AS contrib\n"
            f"    FROM wedges e2\n"
            f"    JOIN {prev} ON e2.src = {prev}.node\n"
            f"    JOIN wdeg ON e2.src = wdeg.src\n"
            f"    GROUP BY e2.dst\n"
            f"  ) s ON p.node = s.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, r AS rank_fixed FROM w{n_iters}"
        " ORDER BY node_id"
    )


def q_textrank(spark, sf_dir):
    """Corpus-level TextRank keywords (operators/textrank): weighted
    PageRank over the adjacent-word co-occurrence graph of the
    documents table, top-20 by (rank DESC, term ASC). Composes two
    verified replay patterns — the shared whitespace tokenizer
    (q_tfidf_keywords parity) builds the graph, and the
    pagerank_weighted (r div W)·w BIGINT trajectory (q_pagerank_weighted
    parity) ranks it — so the DuckDB oracle rebuilds the SAME graph
    from raw text and replays the SAME five-iteration integer fixed
    point via chained CTEs. No export tables."""
    from metal_history_knowledge_graph_spark.operators.textrank import (
        textrank_keywords,
    )

    docs = _t(spark, sf_dir, "documents").select("text")
    return textrank_keywords(docs, n_iters=5, k=20)


def _textrank_oracle(
    n_iters: int = 5, damping: int = 85, scale: int = 10**12, k: int = 20
) -> str:
    """Graph rebuild from raw text + the _pagerank_weighted_oracle
    iteration body, ending in the top-k cut."""
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "x -> length(x) > 0)"
    )
    ctes = [
        f"WITH tr_toks AS (SELECT {toks} AS t FROM documents)",
        "tr_adj AS (\n"
        "  SELECT least(t[i], t[i + 1]) AS a, greatest(t[i], t[i + 1]) AS b\n"
        "  FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tr_toks)\n"
        "  WHERE t[i] <> t[i + 1])",
        "tr_cnt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS w\n"
        "  FROM tr_adj GROUP BY a, b)",
        "wedges AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM tr_cnt\n"
        "  UNION ALL SELECT b, a, w FROM tr_cnt)",
        "wnodes AS (SELECT src AS node FROM wedges UNION SELECT dst FROM wedges)",
        "wparams AS (SELECT count(*) AS n FROM wnodes)",
        "wdeg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wtot"
        " FROM wedges GROUP BY 1)",
        f"w0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS r "
        "FROM wnodes CROSS JOIN wparams)",
    ]
    for i in range(1, n_iters + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"w{i} AS (\n"
            f"  SELECT p.node, CAST(\n"
            f"    (({100 - damping} * {scale}) // (100 * wparams.n))\n"
            f"    + ({damping} * coalesce(s.contrib, 0)) // 100\n"
            f"  AS BIGINT) AS r\n"
            f"  FROM wnodes p CROSS JOIN wparams\n"
            f"  LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum(({prev}.r // wdeg.wtot) * e2.w) AS BIGINT)"
            f" AS contrib\n"
            f"    FROM wedges e2\n"
            f"    JOIN {prev} ON e2.src = {prev}.node\n"
            f"    JOIN wdeg ON e2.src = wdeg.src\n"
            f"    GROUP BY e2.dst\n"
            f"  ) s ON p.node = s.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS term, r AS rank_fixed FROM w{n_iters}"
        f" ORDER BY rank_fixed DESC, term LIMIT {k}"
    )


def q_negative_edges(spark, sf_dir):
    """Deterministic negative-edge sampling (operators/linkeval.
    negative_edges) over the derived functional graph: per-node
    md5-indexed proposals into the dense node index, self/real pairs
    anti-joined away — the reproducible non-edge sample every
    link-prediction benchmark needs (df.sample over an N² pair space
    is neither materializable nor partitioning-stable). Full md5
    arithmetic replay in DuckDB."""
    from metal_history_knowledge_graph_spark.operators.linkeval import (
        negative_edges,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return negative_edges(e, per_node=4).orderBy("src", "dst")


def q_link_auc(spark, sf_dir):
    """Exact Mann-Whitney AUC (operators/linkeval.auc_ppm) of the
    common-neighbor score separating real edges from the sampled
    negatives — the graded benchmark over the q_link_pred signal,
    integer ppm, rank ties broken by the pair key so both engines
    rank identically. One window over the eval set (positives +
    negatives), never a corpus object."""
    from metal_history_knowledge_graph_spark.operators.linkeval import (
        auc_ppm,
        negative_edges,
        score_common_neighbors,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    pos = e.select(
        F.col("subj_id").alias("src"), F.col("obj_id").alias("dst")
    ).withColumn("label", F.lit(1))
    neg = negative_edges(e, per_node=4).withColumn("label", F.lit(0))
    scored = score_common_neighbors(pos.unionByName(neg), e)
    return auc_ppm(scored)


#: negatives CTE chain shared by the two link-eval oracles (expects
#: the _DERIVED_EDGES_SQL prefix to have defined ``edges``).
_NEGEDGE_SQL_CTES = """
ne_nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
ne_idx AS (SELECT node, dense_rank() OVER (ORDER BY node) - 1 AS i FROM ne_nodes),
ne_n AS (SELECT count(*) AS n FROM ne_idx),
ne_prop AS (
    SELECT a.node AS src,
           CAST(('0x' || substr(md5(CAST(a.node AS VARCHAR) || '|'
                 || CAST(t.j AS VARCHAR)), 1, 15))::UBIGINT
                % (SELECT n FROM ne_n) AS BIGINT) AS dst_i
    FROM ne_idx a CROSS JOIN (SELECT unnest(range(4)) AS j) t
),
ne_cand AS (
    SELECT DISTINCT p.src, d.node AS dst
    FROM ne_prop p JOIN ne_idx d ON p.dst_i = d.i
    WHERE p.src <> d.node
      AND NOT EXISTS (SELECT 1 FROM edges e2
                      WHERE (e2.src = p.src AND e2.dst = d.node)
                         OR (e2.src = d.node AND e2.dst = p.src))
)"""


def _negative_edges_oracle() -> str:
    return (
        f"WITH {_DERIVED_EDGES_SQL},{_NEGEDGE_SQL_CTES}\n"
        "SELECT src, dst FROM ne_cand ORDER BY src, dst"
    )


def _link_auc_oracle() -> str:
    return (
        f"WITH {_DERIVED_EDGES_SQL},{_NEGEDGE_SQL_CTES},\n"
        r"""lv_pairs AS (
    SELECT src, dst, 1 AS label FROM edges
    UNION ALL
    SELECT src, dst, 0 AS label FROM ne_cand
),
lv_und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges WHERE src <> dst
),
lv_sym AS (SELECT a, b FROM lv_und UNION ALL SELECT b, a FROM lv_und),
lv_cn AS (
    SELECT p.src, p.dst, CAST(count(*) AS BIGINT) AS cn
    FROM lv_pairs p
    JOIN lv_sym s1 ON p.src = s1.a
    JOIN lv_sym s2 ON p.dst = s2.a AND s1.b = s2.b
    GROUP BY p.src, p.dst
),
lv_scored AS (
    SELECT p.src, p.dst, p.label, coalesce(c.cn, 0) AS score
    FROM lv_pairs p LEFT JOIN lv_cn c
      ON p.src = c.src AND p.dst = c.dst
),
lv_ranked AS (
    SELECT label,
           row_number() OVER (ORDER BY score, src, dst) AS rk
    FROM lv_scored
),
lv_agg AS (
    SELECT CAST(sum(label) AS BIGINT) AS n_pos,
           CAST(sum(1 - label) AS BIGINT) AS n_neg,
           CAST(sum(CASE WHEN label = 1 THEN rk ELSE 0 END) AS BIGINT) AS rs
    FROM lv_ranked
)
SELECT n_pos, n_neg,
       CAST(((rs - (n_pos * (n_pos + 1)) // 2) * 1000000)
            // (n_pos * n_neg) AS BIGINT) AS auc_ppm
FROM lv_agg"""
    )


def q_salsa(spark, sf_dir):
    """SALSA hubs/authorities (operators/graph_algos.salsa) over the
    derived functional graph — the degree-stochastic, link-farm-
    resistant variant next to q_hits (contributions divide by the
    contributor's degree, so mass is conserved and no normalization
    job exists; TKC resistance pinned in test_salsa). All BIGINT
    floor-divides → the five-iteration trajectory replays bit-exactly
    as chained CTEs."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import salsa

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return salsa(e, n_iters=5).orderBy("node_id")


def _salsa_oracle(n_iters: int = 5, scale: int = 10**9) -> str:
    """scale mirrors graph_algos.HITS_SCALE."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        "sdeg_o AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg"
        " FROM edges GROUP BY src)",
        "sdeg_i AS (SELECT dst, CAST(count(*) AS BIGINT) AS indeg"
        " FROM edges GROUP BY dst)",
        "snodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "sparams AS (SELECT count(*) AS n FROM snodes)",
        f"sh0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS h "
        "FROM snodes CROSS JOIN sparams)",
    ]
    for k in range(1, n_iters + 1):
        ctes.append(
            f"sa{k} AS (\n"
            f"  SELECT p.node, CAST(coalesce(x.raw, 0) AS BIGINT) AS a\n"
            f"  FROM snodes p LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum(sh{k - 1}.h // d.outdeg) AS BIGINT) AS raw\n"
            f"    FROM edges e2\n"
            f"    JOIN sh{k - 1} ON e2.src = sh{k - 1}.node\n"
            f"    JOIN sdeg_o d ON e2.src = d.src\n"
            f"    GROUP BY e2.dst) x ON p.node = x.node\n"
            f")"
        )
        ctes.append(
            f"sh{k} AS (\n"
            f"  SELECT p.node, CAST(coalesce(x.raw, 0) AS BIGINT) AS h\n"
            f"  FROM snodes p LEFT JOIN (\n"
            f"    SELECT e2.src AS node,\n"
            f"           CAST(sum(sa{k}.a // d.indeg) AS BIGINT) AS raw\n"
            f"    FROM edges e2\n"
            f"    JOIN sa{k} ON e2.dst = sa{k}.node\n"
            f"    JOIN sdeg_i d ON e2.dst = d.dst\n"
            f"    GROUP BY e2.src) x ON p.node = x.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT h.node AS node_id, h.h AS hub_fixed, a.a AS auth_fixed\n"
        f"FROM sh{n_iters} h JOIN sa{n_iters} a ON h.node = a.node\n"
        "ORDER BY node_id"
    )


def q_katz(spark, sf_dir):
    """Katz centrality (operators/graph_algos.katz) over the derived
    functional graph — attenuated path counts WITHOUT out-degree
    division (a hub endorses every target at full α-strength), the
    seed-distance complement to q_pagerank/q_salsa. β = 10^9, α = 20%,
    six iterations; the integer trajectory replays as chained CTEs."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import katz

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return katz(e, n_iters=6).orderBy("node_id")


def _katz_oracle(
    n_iters: int = 6, alpha_pct: int = 20, scale: int = 10**9
) -> str:
    """scale mirrors graph_algos.HITS_SCALE."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        "knodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"k0 AS (SELECT node, CAST({scale} AS BIGINT) AS x FROM knodes)",
    ]
    for i in range(1, n_iters + 1):
        ctes.append(
            f"k{i} AS (\n"
            f"  SELECT p.node, CAST({scale}\n"
            f"    + ({alpha_pct} * coalesce(s.raw, 0)) // 100 AS BIGINT) AS x\n"
            f"  FROM knodes p LEFT JOIN (\n"
            f"    SELECT e2.dst AS node, CAST(sum(k{i - 1}.x) AS BIGINT) AS raw\n"
            f"    FROM edges e2 JOIN k{i - 1} ON e2.src = k{i - 1}.node\n"
            f"    GROUP BY e2.dst) s ON p.node = s.node\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, x AS katz_fixed FROM k{n_iters}"
        " ORDER BY node_id"
    )


def q_hits(spark, sf_dir):
    """Fixed-point integer HITS hubs-and-authorities
    (operators/graph_algos.hits) over the derived functional graph —
    the host-authority signal pair next to q_pagerank (hubs = link
    directories, authorities = cited hosts). Exact L1 normalization
    each half-step in BIGINT floor-divides, so the 5-iteration
    trajectory is replayed bit-exactly by the chained-CTE DuckDB
    oracle — an EXACT oracle for an iterative spectral-style
    algorithm, not a tolerance compare."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import hits

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return hits(e, n_iters=5).orderBy("node_id")


def q_harmonic(spark, sf_dir):
    """Sampled harmonic centrality (operators/graph_algos.
    harmonic_sampled) over the derived graph: Σ scale div d(s, v) from
    the 16 smallest-id sources within 6 hops — the
    disconnected-graph-safe closeness variant for web host graphs,
    sharing the betweenness sampler's multi-source BFS. The DuckDB
    oracle replays the BFS as a recursive CTE and the floor-divided
    roll-up exactly."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        harmonic_sampled,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return harmonic_sampled(e, n_sources=16, max_hops=6).orderBy("node_id")


def q_link_pred(spark, sf_dir):
    """Common-neighbor link prediction (operators/graph_algos.
    link_prediction) over the derived graph: non-adjacent pairs with
    ≥2 shared neighbors, scored by integer Jaccard permille of their
    neighborhoods — the related-hosts / suggested-edges signal. One
    wedge self-join + degree joins + an adjacency anti-join, replayed
    exactly in DuckDB."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        link_prediction,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return link_prediction(e, min_common=2).orderBy("node_a", "node_b")


def q_sessionize(spark, sf_dir):
    """Gap-bounded sessionization (30-min) of the event log + per-session
    rollup (operators/temporal.sessionize) — every window partitioned by
    user, span kept in exact integer microseconds."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        session_stats,
        sessionize,
    )

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30)
    return (
        session_stats(s)
        .select(
            "user_id", F.col("session_no").cast("long").alias("session_no"),
            "n_events", "span_us", "total_value",
        )
        .orderBy("user_id", "session_no")
    )


def q_asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent
    click at-or-before it (operators/temporal.asof_join — single-shuffle
    union-and-carry-forward, never a range-join blowup). Oracle is
    DuckDB's native ASOF LEFT JOIN."""
    from metal_history_knowledge_graph_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(purchases, clicks, "user_id", "ts", "event_id", ["value"])
    return out.select(
        "user_id", "ts", "event_id", "matched_event_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("matched_ts").cast("timestamp"))
        ).alias("gap_us"),
        F.col("matched_value"),
    ).orderBy("event_id")


def q_latest_event(spark, sf_dir):
    """Latest-snapshot per key (operators/temporal.latest_snapshot) —
    the keep-newest-WARC-capture-per-url dedup, as a partial-agg
    friendly max(struct) instead of a row_number window."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        latest_snapshot,
    )

    return latest_snapshot(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_id",
        ["event_type", "value"],
    ).orderBy("user_id")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition/diversity metrics + keep gate
    (operators/textstats.with_repetition_stats / gopher_keep), all
    fixed-point integer so the DuckDB list-lambda oracle is exact."""
    from metal_history_knowledge_graph_spark.operators.textstats import (
        gopher_keep,
        with_repetition_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        gopher_keep(with_repetition_stats(docs))
        .select(
            "doc_id", F.col("n_words").cast("long").alias("n_words"),
            "unique_word_bp", "top_word_bp", "dup_bigram_bp",
            "mean_word_len_x100", "keep",
        )
        .orderBy("doc_id")
    )


def q_source_stats(spark, sf_dir):
    """Per-source (per-domain) corpus rollup: doc counts, exact-dup
    distinct fingerprints, language spread, fixed-point mean length —
    the domain-level quality aggregation a crawl pipeline gates on."""
    from metal_history_knowledge_graph_spark.operators.textstats import (
        with_fingerprint,
    )

    docs = with_fingerprint(_t(spark, sf_dir, "documents"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("_sum_chars"),
        )
        .withColumn(
            "avg_chars_x100", F.expr("(100 * _sum_chars) div n_docs").cast("long")
        )
        .drop("_sum_chars")
        .orderBy("source")
    )


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicated-span statistics (operators/spans.
    duplicate_span_stats): overlapping 3-word windows, inverted-index
    doc frequency, per-doc duplicated-position fraction + keep gate —
    the exact-substring-dedup signal of Lee et al. 2022. Runs the
    hashed-key scale path; the DuckDB oracle replays with the raw span
    strings (decision-identical short of a 64-bit hash collision)."""
    from metal_history_knowledge_graph_spark.operators.spans import (
        duplicate_span_stats,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        duplicate_span_stats(docs, n=3, min_docs=2, max_dup_bp=5000)
        .select("doc_id", "n_windows", "dup_windows", "dup_bp", "keep")
        .orderBy("doc_id")
    )


def q_boilerplate(spark, sf_dir):
    """RefinedWeb-style boilerplate-segment removal (operators/spans.
    remove_boilerplate_segments): non-overlapping 4-word blocks whose
    doc frequency ≥ 3 are dropped everywhere and the text reassembled
    in order; verifies counts AND the sha256 of every cleaned text."""
    from metal_history_knowledge_graph_spark.operators.spans import (
        remove_boilerplate_segments,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        remove_boilerplate_segments(docs, n=4, min_docs=3)
        .select(
            "doc_id",
            "n_segments",
            "removed_segments",
            F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
        )
        .orderBy("doc_id")
    )


def q_span_scrub(spark, sf_dir):
    """Exact-substring-dedup remediation (operators/spans.
    remove_duplicate_spans): every token covered by a 3-word span that
    occurs in ≥ 2 docs is cut and the text reassembled — the span-cut
    (not doc-drop) half of Lee et al. 2022. Verifies token accounting
    AND the sha256 of every scrubbed text."""
    from metal_history_knowledge_graph_spark.operators.spans import (
        remove_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        remove_duplicate_spans(docs, n=3, min_docs=2)
        .select(
            "doc_id",
            "n_tokens",
            "removed_tokens",
            F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
        )
        .orderBy("doc_id")
    )


def q_bm25_topk(spark, sf_dir):
    """BM25 keyword retrieval (operators/bm25.bm25_topk): inverted
    postings + Lucene-flavored idf, top-15 for a fixed query. Scores
    rounded to 4 decimals before ordering (doc_id tie-break) so the
    DuckDB replay orders identically."""
    from metal_history_knowledge_graph_spark.operators.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "spark join fast", k=15)


def q_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion (operators/fuse.py):
    BM25 top-50 (keyword) + brute cosine top-50 (vector, query =
    vec_id 0) fused with c=60 — rank-based, so the DuckDB replay is
    exact (integer ranks; commutative 2-term reciprocal sum)."""
    from metal_history_knowledge_graph_spark.operators.bm25 import bm25_topk
    from metal_history_knowledge_graph_spark.operators.fuse import (
        rrf_fuse,
        with_rank,
    )
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _dot,
        with_l2_normalized,
    )

    docs = _t(spark, sf_dir, "documents")
    bm = with_rank(bm25_topk(docs, "spark join fast", k=50), "score", "doc_id")

    embs = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    row = embs.filter(F.col("vec_id") == 0).head()
    import math

    qn = math.sqrt(sum(v * v for v in row.embedding)) or 1.0
    q = F.array(*[F.lit(float(v) / qn) for v in row.embedding])
    cos = (
        with_l2_normalized(embs)
        .withColumn("cosine", F.round(_dot(F.col("unit_vec"), q), 4))
        .select(F.col("vec_id").alias("doc_id"), "cosine")
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(50)
    )
    cos = with_rank(cos, "cosine", "doc_id")
    return rrf_fuse(
        [bm.select("doc_id", "rank"), cos.select("doc_id", "rank")],
        id_col="doc_id",
        k=15,
        c=60,
    )


def q_bloom_probe(spark, sf_dir):
    """Distributed Bloom membership pre-filter (operators/bloom.py):
    build the sparse block table over src0 document texts, probe every
    document, and report the Bloom decision next to exact membership
    (false positives allowed, false negatives impossible). Build AND
    probe replay bit-exactly in DuckDB (md5 positions, 32-bit blocks,
    bit_or folds)."""
    from metal_history_knowledge_graph_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    docs = _t(spark, sf_dir, "documents")
    members = docs.filter(F.col("source") == "src0").select("text")
    blocks = bloom_build(members, "text", m_bits=4096, k=5)
    probed = bloom_probe(docs, blocks, "text", m_bits=4096, k=5)
    member_texts = members.distinct().withColumn("is_member", F.lit(True))
    return (
        probed.join(F.broadcast(member_texts), "text", "left")
        .select(
            "doc_id",
            "maybe_member",
            F.coalesce(F.col("is_member"), F.lit(False)).alias("is_member"),
        )
        .orderBy("doc_id")
    )


def q_cms_estimate(spark, sf_dir):
    """Count-min sketch frequency estimation (operators/cms.py):
    4×64 sketch over every token occurrence, estimates probed for the
    full vocabulary next to exact counts — the deliberately tight
    width forces real cell collisions so the min-fold (overcount-only
    invariant) is exercised, and DuckDB replays build + probe
    bit-exactly."""
    from metal_history_knowledge_graph_spark.operators.cms import (
        cms_build,
        cms_estimate,
    )
    from metal_history_knowledge_graph_spark.operators.textstats import (
        _tokens,
    )

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_tokens(F.col("text"))).alias("term"))
    sketch = cms_build(tok, "term", d=4, w=64)
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        cms_estimate(exact, sketch, "term", d=4, w=64)
        .select("term", F.col("est_count").cast("long").alias("est_count"),
                "exact_count")
        .orderBy("term")
    )


def q_webtext_prep(spark, sf_dir):
    """Composed webtext corpus-prep chain (plans/webtext.webtext_prep):
    boilerplate-segment removal → duplicate-span scrub → Gopher gate
    over the scrubbed text → exact dedup among kept docs — the whole
    RefinedWeb-ordered pipeline replayed end-to-end in ONE DuckDB
    oracle (per-stage accounting + sha256 of the final text)."""
    from metal_history_knowledge_graph_spark.plans.webtext import webtext_prep

    docs = _t(spark, sf_dir, "documents")
    return (
        webtext_prep(docs, gopher_kwargs={"min_words": 10})
        .select(
            "doc_id",
            "n_segments",
            "removed_segments",
            "removed_tokens",
            F.col("n_words").cast("long").alias("n_words"),
            "keep_quality",
            "is_canonical",
            F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
        )
        .orderBy("doc_id")
    )


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-prep vocabulary coverage (operators/vocab.py): top-20
    corpus vocabulary (frequency desc, lexicographic tie-break — fully
    deterministic) and per-doc OOV accounting; the tight size forces a
    real OOV tail so the coverage math is exercised."""
    from metal_history_knowledge_graph_spark.operators.vocab import (
        build_vocab,
        vocab_coverage,
    )

    docs = _t(spark, sf_dir, "documents")
    v = build_vocab(docs, size=20)
    return (
        vocab_coverage(docs, v)
        .select("doc_id", "n_tokens", "oov_tokens", "oov_bp")
        .orderBy("doc_id")
    )


def q_snapshot_diff(spark, sf_dir):
    """Crawl-to-crawl delta (operators/temporal.snapshot_diff): one
    full-outer join on fingerprinted snapshots classifying every key
    added / removed / changed / unchanged — the incremental-recrawl
    planner's input. The synthetic new snapshot drops ids < 50,
    modifies 100–129, adds 20 fresh ids."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        snapshot_diff,
    )
    from metal_history_knowledge_graph_spark.operators.textstats import (
        with_fingerprint,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = with_fingerprint(docs)
    new_rows = (
        docs.filter(F.col("doc_id") >= 50)
        .withColumn(
            "text",
            F.when(
                (F.col("doc_id") >= 100) & (F.col("doc_id") < 130),
                F.concat(F.col("text"), F.lit(" changed")),
            ).otherwise(F.col("text")),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 1000).alias("doc_id"), "text"
            )
        )
    )
    new = with_fingerprint(new_rows)
    return snapshot_diff(old, new).orderBy("doc_id")


def q_cap_per_group(spark, sf_dir):
    """Domain balancing (operators/sampling.cap_per_group): keep at
    most 50 docs per source, chosen by deterministic md5-hash order —
    the single-domain-dominance guard of a crawl mix; the hash order
    replays exactly in DuckDB."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        cap_per_group,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        cap_per_group(docs, "source", 50, "doc_id")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def q_within_doc_dedup(spark, sf_dir):
    """WITHIN-document repeated-segment removal (operators/spans.
    dedup_within_doc): first occurrence of each 2-word block kept,
    later repeats dropped — pure per-row HOF chain, no shuffle; DuckDB
    replays the first-position decision with list_position."""
    from metal_history_knowledge_graph_spark.operators.spans import (
        dedup_within_doc,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        dedup_within_doc(docs, n=2)
        .select(
            "doc_id",
            "n_segments",
            "removed_segments",
            F.sha2(F.col("clean_text"), 256).alias("clean_sha"),
        )
        .orderBy("doc_id")
    )


#: decomposed-unicode suffix exercised by q_nfc_normalize: e+combining
#: acute (composes), the ﬁ ligature (NFC keeps it), Hangul jamo L+V+T
#: (compose to one syllable). Shared verbatim by the Spark query and
#: the DuckDB oracle so both normalize the same bytes.
_NFC_SUFFIX = " cafe\u0301 \uFB01ne \u1100\u1161\u11A8"


def q_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (operators/normalize.
    normalize_unicode — Arrow-batched pandas UDF; Spark SQL has no
    normalizer): a decomposed-unicode suffix is appended to every doc
    and the normalized result is compared against DuckDB's
    nfc_normalize (utf8proc) byte-for-byte via sha256 + char counts."""
    from metal_history_knowledge_graph_spark.operators.normalize import (
        normalize_unicode,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_NFC_SUFFIX)).alias("text")
    )
    out = normalize_unicode(docs, "text", form="NFC", out_col="norm")
    return (
        out.select(
            "doc_id",
            F.length("text").cast("long").alias("pre_chars"),
            F.length("norm").cast("long").alias("post_chars"),
            F.sha2(F.col("norm"), 256).alias("norm_sha"),
        )
        .orderBy("doc_id")
    )


_LM_LOGTAB_PATH = _export("lm_logtab")
_LM_PARAMS_PATH = _export("lm_params")


def q_lm_score(spark, sf_dir):
    """Unigram-LM quality scoring (operators/lm_score — the
    CCNet-style perplexity filter): train an add-one-smoothed unigram
    LM on the even-doc_id half of the corpus, score EVERY document by
    average NLL in integer micro-nats, gate at 9.0 nats. The odd half
    contains genuinely out-of-vocabulary terms, so the OOV path is
    exercised. Decision oracle (q_lsh_buckets trusted-export pattern):
    Spark exports the tiny (freq → nll_micro) log table + the scalar
    params row; DuckDB recomputes term frequencies INDEPENDENTLY from
    the corpus, joins the exported log function, and must land on
    bit-identical BIGINT sums and floor-divides (the -ln itself is
    pinned against math.log in pytest)."""
    from metal_history_knowledge_graph_spark.operators.lm_score import (
        build_unigram_lm,
        log_table,
        score_documents,
    )

    docs = _t(spark, sf_dir, "documents")
    lm, params = build_unigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    log_table(lm).coalesce(1).write.mode("overwrite").parquet(_LM_LOGTAB_PATH)
    spark.createDataFrame(
        [(params["total_tokens"], params["vocab_size"],
          params["oov_nll_micro"])],
        "total_tokens long, vocab_size long, oov_nll_micro long",
    ).coalesce(1).write.mode("overwrite").parquet(_LM_PARAMS_PATH)
    scored = score_documents(
        docs, lm, params["oov_nll_micro"], keep_below_micro=9_000_000
    )
    return scored.select(
        "doc_id", "lm_tokens", "nll_sum_micro", "avg_nll_micro", "lm_keep"
    )


_CCNET_LOGTAB_PATH = _export("ccnet_logtab")
_CCNET_PARAMS_PATH = _export("ccnet_params")


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (lm_score.
    ppl_buckets over score_documents — the SELECTION step after the
    q_lm_score filter: train on head, sample middle, drop tail;
    Wenzek et al. 2020 §4.3). Same trusted-export decision oracle as
    q_lm_score (own export paths, written by THIS query immediately
    before the oracle reads them — the standard query-before-oracle
    contract every export oracle here shares): DuckDB recomputes term
    frequencies
    independently, joins the exported log function, replays the BIGINT
    score chain, then lands every document in the same ntile(3)
    bucket via the identical (score, doc_id) ORDER BY."""
    from metal_history_knowledge_graph_spark.operators.lm_score import (
        build_unigram_lm,
        log_table,
        ppl_buckets,
        score_documents,
    )

    logtab_path, params_path = _CCNET_LOGTAB_PATH, _CCNET_PARAMS_PATH
    docs = _t(spark, sf_dir, "documents")
    lm, params = build_unigram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    log_table(lm).coalesce(1).write.mode("overwrite").parquet(logtab_path)
    spark.createDataFrame(
        [(params["total_tokens"], params["vocab_size"],
          params["oov_nll_micro"])],
        "total_tokens long, vocab_size long, oov_nll_micro long",
    ).coalesce(1).write.mode("overwrite").parquet(params_path)
    scored = score_documents(
        docs, lm, params["oov_nll_micro"], keep_below_micro=9_000_000
    )
    return ppl_buckets(scored, n_buckets=3).select(
        "doc_id", "avg_nll_micro", "ppl_bucket", "ppl_class"
    ).orderBy("doc_id")


_QCLF_WEIGHTS_PATH = _export("qclf_weights")
_QCLF_PARAMS_PATH = _export("qclf_params")


def q_quality_clf(spark, sf_dir):
    """FastText-style linear quality classifier
    (operators/quality_clf — the CCNet/RefinedWeb model-based quality
    gate): train NB log-odds weights on the labeled slice
    (doc_id < 200, label = doc_id % 3 ≠ 0), score the held-out 300
    documents in integer micro-nats, gate at score > 0. Decision
    oracle (the q_lm_score trusted-export pattern, hardened): Spark
    exports the weight table WITH its per-class counts and the params
    row WITH the scalar sufficient statistics; DuckDB re-derives every
    count from the raw corpus independently and equi-joins the exports
    ON THE COUNTS, so any drift in the Spark training aggregation
    breaks the join and surfaces — only the pinned-in-pytest ln stays
    exported."""
    from metal_history_knowledge_graph_spark.operators.quality_clf import (
        score_documents_nb,
        train_nb_classifier,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    labeled = docs.filter(F.col("doc_id") < 200).withColumn(
        "label", (F.col("doc_id") % 3 != 0).cast("int")
    )
    weights, params = train_nb_classifier(labeled)
    weights.coalesce(1).write.mode("overwrite").parquet(_QCLF_WEIGHTS_PATH)
    spark.createDataFrame(
        [(params["n_pos_docs"], params["n_neg_docs"], params["total_pos"],
          params["total_neg"], params["vocab_size"], params["prior_micro"],
          params["oov_w_micro"])],
        "n_pos_docs long, n_neg_docs long, total_pos long, total_neg long, "
        "vocab_size long, prior_micro long, oov_w_micro long",
    ).coalesce(1).write.mode("overwrite").parquet(_QCLF_PARAMS_PATH)
    scored = score_documents_nb(
        docs.filter(F.col("doc_id") >= 200), weights,
        params["prior_micro"], params["oov_w_micro"],
    )
    return scored.select(
        "doc_id", "clf_tokens", "score_micro", "clf_keep"
    ).orderBy("doc_id")


_TFIDF_IDF_PATH = _export("tfidf_idf")


def q_tfidf_keywords(spark, sf_dir):
    """TF-IDF keyword extraction (operators/keywords): top-5 salient
    terms per document by tf·idf in integer micro-nats, deterministic
    (score DESC, term ASC) tie-break. Decision oracle (the q_lm_score
    trusted-export pattern): Spark exports the tiny (df → idf_micro)
    log table; DuckDB recomputes tf AND df independently from the raw
    text and joins the export ON df — a drifted document-frequency
    breaks the join and surfaces; the ln is pinned against math.log
    in pytest."""
    from metal_history_knowledge_graph_spark.operators.keywords import (
        idf_log_table,
        tfidf_keywords,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kw, idf, _n = tfidf_keywords(docs, k=5)
    idf_log_table(idf).coalesce(1).write.mode("overwrite").parquet(
        _TFIDF_IDF_PATH)
    return kw.orderBy("doc_id", "rank")


def q_fuzzy_join(spark, sf_dir):
    """Exact edit-distance similarity self-join (operators/
    fuzzy_join — FastSS deletion-neighborhood candidates + exact
    Levenshtein verify, the lossless short-string complement to the
    MinHash/SimHash families; the reference's SequenceMatcher fuzzy
    pass at guaranteed-complete threshold semantics). Two name rows
    are derived per document — a cleaned 16-char base and a typo'd
    variant (delete/substitute/insert by doc_id mod class) — so every
    doc seeds a true pair plus cross-doc collisions. The engine runs
    the inverted-index join over variant hashes; the DuckDB oracle
    computes the DECISION FUNCTION directly (all-pairs Levenshtein ≤ 1
    on the bounded name set): any pair the neighborhood join missed
    would surface as a missing row."""
    from metal_history_knowledge_graph_spark.operators.fuzzy_join import (
        fuzzy_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.trim(
            F.substring(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""),
                1, 16,
            )
        ).alias("base"),
    )
    variant = F.when(
        F.length("base") < 6, F.concat(F.col("base"), F.lit("x"))
    ).when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.expr("substring(base, 1, 2)"), F.expr("substring(base, 4)")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.expr("substring(base, 1, 3)"), F.lit("x"),
                 F.expr("substring(base, 5)")),
    ).otherwise(
        F.concat(F.expr("substring(base, 1, 5)"), F.lit("q"),
                 F.expr("substring(base, 6)")),
    )
    names = base.select(
        (F.col("doc_id") * 2).alias("id"), F.col("base").alias("name")
    ).unionByName(
        base.select((F.col("doc_id") * 2 + 1).alias("id"),
                    variant.alias("name"))
    )
    return fuzzy_pairs(names, "id", "name", max_dist=1).orderBy("id1", "id2")


def q_exact_quantiles(spark, sf_dir):
    """Exact distributed quantiles without a global sort
    (operators/quantiles.exact_quantiles): deterministic md5-sampled
    pivots → ONE exact-rank pass (all pivot ranks in a single 1-row
    partial agg) → bracket range filter → per-VALUE counts + running
    sum resolve the order statistic. The answer is the exact value at
    1-based rank ⌈q·N/1000⌉ of the sorted column — no approximation,
    no partitioning dependence — so the DuckDB oracle computes it
    DIRECTLY with row_number() over the fully sorted column. Seven
    quantiles of lineitem.l_extendedprice."""
    from metal_history_knowledge_graph_spark.operators.quantiles import (
        exact_quantiles,
    )

    li = _t(spark, sf_dir, "lineitem")
    return exact_quantiles(
        li, "l_extendedprice", [10, 250, 500, 750, 900, 990, 1000],
        sample_rate=0.01,
    ).orderBy("q_permille")


def q_fuzzy_probe(spark, sf_dir):
    """Incremental fuzzy-join maintenance (fuzzy_join.fuzzy_index +
    fuzzy_probe_new — the growing-corpus path every dedup family
    carries): the doc_id < 250 half's deletion-neighborhood index is
    built once, then the other half probes it — new-vs-stored plus
    new-vs-new pairs, old-old structurally excluded, variants of the
    stored corpus never re-derived. The DuckDB oracle computes the
    decision function directly: all-pairs Levenshtein ≤ 1 over the
    same typo'd names RESTRICTED to pairs with a new side — a probe
    that missed or fabricated a pair mismatches the row set
    (probe == rebuild is additionally pinned in test_fuzzy_join)."""
    from metal_history_knowledge_graph_spark.operators.fuzzy_join import (
        fuzzy_index,
        fuzzy_probe_new,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.trim(
            F.substring(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z ]", ""),
                1, 16,
            )
        ).alias("base"),
    )
    variant = F.when(
        F.length("base") < 6, F.concat(F.col("base"), F.lit("x"))
    ).when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.expr("substring(base, 1, 2)"), F.expr("substring(base, 4)")),
    ).when(
        F.col("doc_id") % 3 == 1,
        F.concat(F.expr("substring(base, 1, 3)"), F.lit("x"),
                 F.expr("substring(base, 5)")),
    ).otherwise(
        F.concat(F.expr("substring(base, 1, 5)"), F.lit("q"),
                 F.expr("substring(base, 6)")),
    )
    names = base.select(
        (F.col("doc_id") * 2).alias("id"), F.col("base").alias("name")
    ).unionByName(
        base.select((F.col("doc_id") * 2 + 1).alias("id"),
                    variant.alias("name"))
    )
    old = names.filter(F.col("id") < 500)
    new = names.filter(F.col("id") >= 500)
    idx = fuzzy_index(old, "id", "name", max_dist=1)
    return fuzzy_probe_new(new, idx, "id", "name", max_dist=1).orderBy(
        "id1", "id2"
    )


def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled domain mixing (sampling.temperature_mix —
    the multilingual/multi-domain rebalance: keep probability ∝
    count^0.5, downsample-only, so tail domains survive the mix). A
    60/25/10/5 skewed domain column is derived from doc_id so the
    flattening actually fires; the whole decision chain — exact
    integer sqrt weights, scaled demand min, ppm floor-divides, md5
    keep filter — is re-derived from the raw counts by the DuckDB
    oracle with no exports."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    dom = F.concat(
        F.lit("d"),
        F.when(F.col("doc_id") % 100 < 60, F.lit(0))
        .when(F.col("doc_id") % 100 < 85, F.lit(1))
        .when(F.col("doc_id") % 100 < 95, F.lit(2))
        .otherwise(F.lit(3))
        .cast("string"),
    )
    d = docs.withColumn("dom", dom)
    return (
        temperature_mix(d, "dom", "doc_id", alpha=0.5, seed=7)
        .select("doc_id", "dom")
        .orderBy("doc_id")
    )


def q_pub_dates(spark, sf_dir):
    """Publication-date extraction (operators/dates.with_pub_date —
    the body-text freshness signal for hosts without sitemaps, the
    htmldate/trafilatura heuristic made deterministic): three
    prioritized shapes (ISO, 'March 5, 2021', US slash), Gregorian
    validation with the leap rule, invalid-match-means-undated. Dates
    are injected into the documents deterministically by doc_id mod 5
    (one class carries an invalid 2021-02-29 ahead of a valid
    lower-priority date so the rejection path fires); the DuckDB
    oracle rebuilds the identical text and replays every regex,
    month-name map, validity check and lpad — shared RE2/Java-safe
    patterns, output is an ISO STRING so no engine DATE semantics are
    involved."""
    from metal_history_knowledge_graph_spark.operators.dates import (
        with_pub_date,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" Published: 2023-07-19."))
            .when(F.col("doc_id") % 5 == 1,
                  F.lit(" Published on March 5, 2021."))
            .when(F.col("doc_id") % 5 == 2, F.lit(" Updated 11/23/2019."))
            .when(F.col("doc_id") % 5 == 3,
                  F.lit(" Updated 2021-02-29 then March 5, 2021."))
            .otherwise(F.lit("")),
        ),
    )
    return (
        with_pub_date(aug)
        .select("doc_id", "pub_date", "date_kind")
        .orderBy("doc_id")
    )


def q_heavy_hitters(spark, sf_dir):
    """Misra-Gries heavy hitters (operators/heavy_hitters — the
    sketch family's frequency-threshold member): every token whose
    relative frequency clears 3.3%, with its EXACT count. Two-pass:
    bounded per-partition MG summaries (Arrow-batched mapInPandas,
    ≤ capacity rows each) → candidate set → broadcast semi-join exact
    recount → integer ppm filter. The output is deterministic
    regardless of partitioning (the sketch only gates candidacy, and
    its undercount bound guarantees candidate completeness), so the
    DuckDB oracle computes the answer DIRECTLY — exact groupBy + the
    same BIGINT filter, no exports: a sketch that dropped a true
    heavy hitter would surface as a missing row."""
    from metal_history_knowledge_graph_spark.operators.heavy_hitters import (
        heavy_hitters,
    )
    from metal_history_knowledge_graph_spark.operators.textstats import _tokens

    docs = _t(spark, sf_dir, "documents").select("text")
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("term"))
    return heavy_hitters(toks, "term", threshold_ppm=33000)


_IDF_MERGED_PATH = _export("idf_merged")


def q_idf_merge(spark, sf_dir):
    """Growing-corpus idf maintenance (operators/keywords.
    merge_df_counts + idf_from_counts): the stored df table of the
    doc_id < 250 half is merged with the newly-arrived other half —
    NO rescan of the old corpus — and the rebuilt idf is exported.
    The DuckDB oracle recomputes df over the FULL union from scratch
    and equi-joins the exported merged table ON (term, df): if the
    merge lost or double-counted anything, the join misses and the
    row count mismatches — merged-then-rebuilt must equal retrained."""
    from metal_history_knowledge_graph_spark.operators.keywords import (
        idf_from_counts,
        merge_df_counts,
        tfidf_keywords,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)
    _kw, idf_old, n_old = tfidf_keywords(old, k=1)
    merged_counts, n_merged = merge_df_counts(idf_old, new, n_old)
    merged_idf = idf_from_counts(merged_counts, n_merged)
    merged_idf.coalesce(1).write.mode("overwrite").parquet(_IDF_MERGED_PATH)
    return merged_idf.select("term", "df", "idf_micro").orderBy("term")


def q_sentence_stats(spark, sf_dir):
    """Sentence/line-level quality inputs (textstats.
    with_sentence_stats — the RefinedWeb/Gopher line-wise rules):
    sentence counts, mean sentence length in micro-words, the
    truncated-page terminal check, and bullet/ellipsis line basis
    points. Documents are augmented deterministically with extra
    sentences, bullet/dash lines and a trailing teaser by doc_id mod
    classes so every rule path fires; the DuckDB oracle rebuilds the
    same augmented text and replays every split/filter/ratio (shared
    lookaround-free patterns)."""
    from metal_history_knowledge_graph_spark.operators.textstats import (
        with_sentence_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit(". Extra sentence two! Done?")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\n• bullet item\n- dash item")).otherwise(
                F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("\ntrailing teaser...")).otherwise(F.lit("")),
        ),
    )
    return with_sentence_stats(aug).select(
        "doc_id", "n_sentences", "mean_sentence_words_micro",
        "ends_terminal", "n_lines", "bullet_line_bp", "ellipsis_line_bp",
    ).orderBy("doc_id")


def q_script_stats(spark, sf_dir):
    """Unicode-script statistics (textstats.with_script_stats — the
    multilingual routing inputs that run BEFORE language-ID): per-
    script character counts from portable codepoint-range classes
    (the one script syntax Java regex and RE2 share), non-ASCII basis
    points, and the fixed-priority dominant-script argmax. Documents
    are augmented with Cyrillic/CJK/Arabic fragments by doc_id mod
    classes (and every 7th doc is REPLACED by a Cyrillic sentence so
    a non-Latin dominant fires); the oracle rebuilds the identical
    text and replays every count with global regexp_replace
    length-diffs."""
    from metal_history_knowledge_graph_spark.operators.textstats import (
        with_script_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    aug = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit("Русский текст здесь да"))
        .otherwise(
            F.concat(
                F.col("text"),
                F.when(F.col("doc_id") % 3 == 0,
                       F.lit(" немного русского")).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 4 == 0,
                       F.lit(" 中文内容测试")).otherwise(F.lit("")),
                F.when(F.col("doc_id") % 5 == 0,
                       F.lit(" نص عربي")).otherwise(F.lit("")),
            )
        ),
    )
    return with_script_stats(aug).select(
        "doc_id", "n_chars", "n_latin", "n_cyrillic", "n_cjk", "n_arabic",
        "non_ascii_bp", "dominant_script",
    ).orderBy("doc_id")


def q_kn_bigrams(spark, sf_dir):
    """Kneser-Ney bigram LM statistics (operators/ngram_lm): bigram /
    prefix / continuation counts and the interpolated-KN probability
    with absolute discount 0.75, ALL in integer micro-unit arithmetic
    — no logs, no floats, no exports. The DuckDB oracle re-derives
    the entire table from the raw text (list-transform bigrams, the
    same three aggregations, the same floor-divides) — a full
    from-scratch replay. Top-100 bigrams by (c12 DESC, w1, w2)."""
    from metal_history_knowledge_graph_spark.operators.ngram_lm import bigram_kn

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_kn(docs).orderBy(
        F.desc("c12"), "w1", "w2"
    ).limit(100)


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (ngram_lm.pmi_collocations — Church &
    Hanks 1990, the word2vec phrase-pass statistic): top-100 bigrams
    by association lift. log is monotone, so the PMI ranking is the
    exact-BIGINT rational lift c12·N/(c1·c2) in ppm fixed point (the
    two-step floor-divide keeps every intermediate under 2^63) — no
    logs, no floats, no exports; the DuckDB oracle re-derives the
    whole table from the raw text with the identical arithmetic."""
    from metal_history_knowledge_graph_spark.operators.ngram_lm import (
        pmi_collocations,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_collocations(docs, min_count=2).orderBy(
        F.desc("lift_ppm"), "w1", "w2"
    ).limit(100)


_DSIR_LR_PATH = _export("dsir_lr")
_DSIR_N_BUCKETS = 4096
_DSIR_K = 100


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (operators/dsir — Xie et al. 2023):
    weight every document by how much its hashed unigram+bigram
    distribution looks like the TARGET slice (here: the 'en' docs)
    versus the raw corpus, and select the top-100. Decision oracle
    (the q_lm_score trusted-export pattern): Spark exports the
    ≤ 4096-row (bucket → lr_micro) ratio table plus the unseen-bucket
    constant as a sentinel row; DuckDB re-featurizes every document
    INDEPENDENTLY (same md5 bucket hash, same token/bigram grammar),
    joins the exported table, and must land on bit-identical BIGINT
    dot products, floor-divides, and the same top-k cut (weight desc,
    doc_id — a total order). The two ln()s per bucket are pinned
    against math.log in pytest."""
    from metal_history_knowledge_graph_spark.operators.dsir import (
        dsir_logratio_table,
        dsir_select,
        dsir_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    lr, params = dsir_logratio_table(target, docs, n_buckets=_DSIR_N_BUCKETS)
    lr = lr.localCheckpoint(eager=True)
    unseen = params["unseen_lr_micro"]
    # sentinel bucket -1 carries the unseen-bucket constant so the
    # static oracle SQL can read it (no run-order side channel beyond
    # the export itself, which this query writes fresh every call)
    lr.unionByName(spark.createDataFrame(
        [(-1, unseen)], "bucket long, lr_micro long"
    )).coalesce(1).write.mode("overwrite").parquet(_DSIR_LR_PATH)
    weighted = dsir_weights(
        docs, lr, n_buckets=_DSIR_N_BUCKETS, unseen_lr_micro=unseen
    )
    return dsir_select(weighted, k=_DSIR_K).select(
        "doc_id", "lang", "n_grams", "weight_micro",
        "weight_per_gram_micro",
    )


_SEMDEDUP_CENTROIDS_PATH = _export("semdedup_centroids")
_SEMDEDUP_TAU = 0.35


def q_semdedup(spark, sf_dir):
    """SemDeDup (operators/semdedup — Abbas et al. 2023): k-means the
    embeddings, within-cluster cosine pairs >= tau, connected dup
    groups, one representative kept per group. Injects 25 exact
    duplicates; tau=0.35 also catches natural within-cluster pairs so
    multi-member components form. FULL replay oracle: only the 8-row
    centroid table is exported; DuckDB re-derives unit vectors,
    replays the argmax-dot assignment (bit-exact left folds, ties ->
    lowest cluster), the 4dp-rounded pair decision, the recursive-CTE
    closure, and min-id election. rep_rule='min_id' here because a
    float-ORDERED election would be 1-ulp flaky cross-engine (the
    q_cosine_neardup membership convention); the paper's
    low-centroid-sim rule is pinned in tests/test_semdedup.py.
    Membership-only output (no float columns)."""
    from metal_history_knowledge_graph_spark.operators.semdedup import semdedup

    embs = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = embs.filter(F.col("vec_id") < 25).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    dec, centroids = semdedup(
        embs.unionByName(dups), n_clusters=8, threshold=_SEMDEDUP_TAU,
        rep_rule="min_id",
    )
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster long, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_SEMDEDUP_CENTROIDS_PATH)
    return dec.select(
        "vec_id", "cluster", "group_rep", "group_size", "keep_flag"
    ).orderBy("vec_id")


def q_prefix_join(spark, sf_dir):
    """EXACT set-similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_pairs — the All-Pairs/PPJoin
    scheme): provably returns EVERY pair with word-set Jaccard ≥ 0.5
    while indexing only document-frequency-ordered prefixes, the
    exact-recall complement to the MinHash/SimHash LSH families.
    Oracle: brute-force all-pairs Jaccard over the full table — any
    candidate-generation recall bug shows up as a missing row."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, threshold=0.5)


def q_prefix_groups(spark, sf_dir):
    """The O(docs) dedup DELIVERABLE on top of q_prefix_join's exact
    pair evidence (operators/dedup.group_representatives, VERDICT r3
    #8): pairs → connected components → (doc_id, rep_id = min id of
    the transitive group, group_size, keep), singletons included so
    the verdict is total over the corpus. Oracle replays the exact
    all-pairs Jaccard decisions, closes them with a recursive CTE, and
    fills singletons from the full documents table."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        group_representatives,
        prefix_filter_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = prefix_filter_pairs(docs, threshold=0.5)
    return group_representatives(pairs, docs=docs.select("doc_id")) \
        .orderBy("doc_id")


def q_host_graph(spark, sf_dir):
    """Hyperlink extraction → host-level link graph
    (operators/links.py — the webtext→graph bridge feeding pagerank /
    k-core host-authority signals): deterministic HTML synthesized
    from the documents table (absolute + root-relative +
    protocol-relative + mailto links), href regex extraction, link
    resolution against the page host, host normalization, and the
    counted edge aggregation — ALL replayed in DuckDB with the SAME
    shared HREF_PATTERN (RE2-safe subset), so the whole chain is the
    oracle, not just the counts."""
    from metal_history_knowledge_graph_spark.operators.links import (
        extract_links,
        host_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<a href="http://'), F.col("lang"), F.lit(".example/p/"),
        did, F.lit('">x</a> '),
        F.lit("<a href='/local/"), did, F.lit("'>y</a> "),
        F.lit('<a href="//cdn.example/lib.js">z</a> '),
        F.lit('<a href="mailto:a@b">m</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"), did
        ).alias("url"),
        html.alias("html"),
    )
    return (
        host_graph(extract_links(pages))
        .orderBy("src_host", "dst_host")
    )


def q_anchor_text(spark, sf_dir):
    """Anchor-text aggregation (operators/links.extract_anchors +
    anchor_terms): every <a href>text</a> element parsed from
    deterministic HTML, self-links dropped, anchor text tokenized,
    and the top-3 terms the REST of the web uses for each host ranked
    — the classic search relevance / entity-alias signal. The DuckDB
    oracle replays the entire chain (tag regex → href/text split →
    link resolution → host normalization → tokenize → count → rank)
    with the SAME shared patterns."""
    from metal_history_knowledge_graph_spark.operators.links import (
        anchor_terms,
        extract_anchors,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    atext = F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, 2), " "
    )
    html = F.concat(
        F.lit('<a href="http://'), F.col("lang"), F.lit(".example/p/"),
        did, F.lit('">'), atext, F.lit("</a> "),
        F.lit("<a href='/nav/"), did, F.lit("'>home page</a> "),
        F.lit('<a href="//cdn.example/lib.js">shared asset cdn</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"), did
        ).alias("url"),
        html.alias("html"),
    )
    return (
        anchor_terms(extract_anchors(pages), k=3)
        .select("dst_host", "term", "n", F.col("rank").cast("long").alias("rank"))
        .orderBy("dst_host", "rank")
    )


def _anchor_text_oracle() -> str:
    """DuckDB replay of q_anchor_text's full chain; tag/href/token
    patterns imported from operators/links (single source)."""
    from metal_history_knowledge_graph_spark.operators.links import (
        ANCHOR_TAG_PATTERN,
        ANCHOR_TOKEN_PATTERN,
        HREF_PATTERN,
    )

    tag_pat = ANCHOR_TAG_PATTERN.replace("'", "''")
    href_pat = HREF_PATTERN.replace("'", "''")
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract({u}, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<a href="http://' || lang || '.example/p/'
                       || CAST(doc_id AS VARCHAR) || '">'
                   || array_to_string(list_slice(
                          list_filter(regexp_split_to_array(
                              lower(trim(text)), '\\s+'),
                              x -> length(x) > 0), 1, 2), ' ')
                   || '</a> '
                   || '<a href=''/nav/' || CAST(doc_id AS VARCHAR)
                       || '''>home page</a> '
                   || '<a href="//cdn.example/lib.js">shared asset cdn</a>'
                       AS html
            FROM documents
        ), tags AS (
            SELECT url,
                   unnest(regexp_extract_all(html, '{tag_pat}', 0)) AS tag
            FROM pages
        ), parsed AS (
            SELECT {host.format(u="url")} AS src_host,
                   regexp_extract(tag, '{href_pat}', 1) AS href,
                   regexp_extract(tag, '{tag_pat}', 1) AS atext
            FROM tags
        ), res AS (
            SELECT src_host, atext,
                   CASE WHEN href LIKE '//%' THEN 'http:' || href
                        WHEN href LIKE '/%' THEN 'http://' || src_host || href
                        ELSE href END AS dst_url
            FROM parsed
        ), anchors AS (
            SELECT src_host,
                   CASE WHEN length({host.format(u="dst_url")}) > 0
                        THEN {host.format(u="dst_url")} END AS dst_host,
                   atext
            FROM res
        ), terms AS (
            SELECT dst_host,
                   unnest(regexp_extract_all(lower(atext),
                          '{ANCHOR_TOKEN_PATTERN}', 0)) AS term
            FROM anchors
            WHERE dst_host IS NOT NULL
              AND (src_host IS NULL OR src_host <> dst_host)
        ), counted AS (
            SELECT dst_host, term, count(*) AS n
            FROM terms GROUP BY 1, 2
        )
        SELECT dst_host, term, n, rank FROM (
            SELECT dst_host, term, n,
                   row_number() OVER (PARTITION BY dst_host
                       ORDER BY n DESC, term) AS rank
            FROM counted
        ) WHERE rank <= 3 ORDER BY dst_host, rank
    """


def q_pps_sample(spark, sf_dir):
    """Probability-proportional-to-size systematic sampling
    (operators/sampling.pps_systematic_sample): 50 selections over the
    documents table weighted by n_chars — expected pick count
    proportional to size, zero RNG and zero floats (md5-derived offset,
    BIGINT prefix sums, floor-divide interval counts), so the DuckDB
    oracle replays every selection exactly. The engine computes the
    global prefix sum via fixed hash-range buckets + broadcast offsets
    (no global sort, no SinglePartition window — plan-gated in
    test_sampling_pps); the oracle is allowed the one-window plan."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        pps_systematic_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    out = pps_systematic_sample(
        docs, weight_col="weight", n_target=50, key_col="doc_id", seed=0
    )
    return out.select("doc_id", "weight", "n_copies").orderBy("doc_id")


def _pps_oracle(n_target: int = 50, seed: int = 0) -> str:
    """DuckDB replay of q_pps_sample: same md5 order hash, same
    integer step/offset, one global window for the prefix sum."""
    return f"""
        WITH wr AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                   CAST(('0x' || substr(md5('ppsord:{seed}|'
                       || CAST(doc_id AS VARCHAR)), 1, 15))::UBIGINT
                       % 1000000 AS BIGINT) AS ord
            FROM documents WHERE n_chars > 0
        ), params AS (
            SELECT CAST(sum(w) AS BIGINT) AS total,
                   greatest(CAST(sum(w) AS BIGINT) // {n_target}, 1) AS step,
                   CAST(('0x' || substr(md5('pps:{seed}'), 1, 15))::UBIGINT
                       % greatest(CAST(sum(w) AS BIGINT) // {n_target}, 1)
                       AS BIGINT) AS off
            FROM wr
        ), cum AS (
            SELECT doc_id, w,
                   coalesce(CAST(sum(w) OVER (ORDER BY ord, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS wc
            FROM wr
        )
        SELECT doc_id, w AS weight, CAST(n_copies AS BIGINT) AS n_copies
        FROM (
            SELECT doc_id, w,
                   least(CASE WHEN (wc + w) <= off THEN 0
                         ELSE (wc + w - off - 1) // step + 1 END, {n_target})
                   - least(CASE WHEN wc <= off THEN 0
                           ELSE (wc - off - 1) // step + 1 END, {n_target})
                       AS n_copies
            FROM cum CROSS JOIN params
        ) WHERE n_copies > 0 ORDER BY doc_id
    """


def q_near_match(spark, sf_dir):
    """Proximity search NEAR/4 (operators/phrase.proximity_match):
    documents where 'merge' and 'line' occur within four tokens of
    each other (unordered), with qualifying-pair counts and the
    tightest distance — the operator between q_phrase_match's exact
    sequences and q_bm25_topk's bags. One doc-keyed join of two
    single-term posting lists; the oracle replays the token scan and
    the pair window directly."""
    from metal_history_knowledge_graph_spark.operators.phrase import (
        positional_index,
        proximity_match,
    )

    idx = positional_index(_t(spark, sf_dir, "documents"))
    return proximity_match(idx, "merge", "line", 4).orderBy("doc_id")


def _near_match_oracle(
    term_a: str = "merge", term_b: str = "line", k: int = 4
) -> str:
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "x -> length(x) > 0)"
    )
    return f"""
WITH nm_toks AS (SELECT doc_id, {toks} AS t FROM documents),
nm_pos AS (
    SELECT doc_id, i - 1 AS pos, t[i] AS term
    FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM nm_toks)
),
nm_a AS (SELECT doc_id, pos AS pos_a FROM nm_pos WHERE term = '{term_a}'),
nm_b AS (SELECT doc_id, pos AS pos_b FROM nm_pos WHERE term = '{term_b}')
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(pos_b - pos_a)) AS BIGINT) AS min_distance
FROM nm_a a JOIN nm_b b USING (doc_id)
WHERE pos_b <> pos_a AND abs(pos_b - pos_a) <= {k}
GROUP BY a.doc_id ORDER BY doc_id"""


def q_phrase_match(spark, sf_dir):
    """Exact positional phrase search (operators/phrase.py): documents
    containing the exact 3-token sequence 'merge data line', with
    overlapping occurrence counts and first position — the
    quoted-query operator next to q_bm25_topk's bag-of-words ranking.
    Spark intersects per-term postings by position arithmetic
    ((doc, pos) equi-joins, each side one term's postings); the DuckDB
    oracle replays the sliding window over the shared tokenization
    directly, so the join plan and the window scan must agree on every
    (doc, count, first_pos)."""
    from metal_history_knowledge_graph_spark.operators.phrase import phrase_match

    docs = _t(spark, sf_dir, "documents")
    return phrase_match(docs, "merge data line").orderBy("doc_id")


def _phrase_oracle(phrase: str = "merge data line") -> str:
    terms = phrase.split()
    toks = (
        "list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        "x -> length(x) > 0)"
    )
    cond = " AND ".join(
        f"toks[i + {j}] = '{w}'" for j, w in enumerate(terms)
    )
    return f"""
        WITH t AS (
            SELECT doc_id, {toks} AS toks FROM documents
        ), hits AS (
            SELECT doc_id,
                   list_filter(
                       generate_series(1, greatest(len(toks) - {len(terms) - 1}, 0)),
                       i -> {cond}) AS starts
            FROM t
        )
        SELECT doc_id, CAST(len(starts) AS BIGINT) AS n_occurrences,
               CAST(starts[1] - 1 AS BIGINT) AS first_pos
        FROM hits WHERE len(starts) > 0 ORDER BY doc_id
    """


def q_markup_stats(spark, sf_dir):
    """Markup-level page statistics (operators/markup.py): tag /
    link / script / style / paragraph / heading counts and the
    visible-text permille over deterministic HTML — the structural
    quality gate a webtext filter runs before any text pass. Every
    count is a native regexp aggregate; the DuckDB oracle recomputes
    all of them with len(regexp_extract_all) + a global-flag
    regexp_replace from the same shared patterns."""
    from metal_history_knowledge_graph_spark.operators.markup import markup_stats

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    extra = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit('<a href="/l1">l</a><a href="/l2">l</a>'),
    ).otherwise(F.lit("<h2>s</h2>"))
    html = F.concat(
        F.lit('<html><head><script src="x.js"></script><style>.a{}</style>'
              "</head><body><h1>"),
        F.col("source"), F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><p><a href="/x">more</a></p>'), extra,
        F.lit("</body></html>"),
    )
    pages = docs.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit("/"), did)
        .alias("url"),
        html.alias("html"),
    )
    return markup_stats(pages).orderBy("url")


def _markup_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.markup import (
        HEADING_PATTERN,
        LINK_PATTERN,
        PARA_PATTERN,
        SCRIPT_PATTERN,
        STYLE_PATTERN,
        TAG_PATTERN,
    )

    def cnt(p):
        return f"CAST(len(regexp_extract_all(html, '{p}')) AS BIGINT)"

    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<html><head><script src="x.js"></script><style>.a{{}}</style>'
                   || '</head><body><h1>' || source || '</h1><p>' || text
                   || '</p><p><a href="/x">more</a></p>'
                   || CASE WHEN doc_id % 3 = 0
                           THEN '<a href="/l1">l</a><a href="/l2">l</a>'
                           ELSE '<h2>s</h2>' END
                   || '</body></html>' AS html
            FROM documents
        )
        SELECT url,
               {cnt(TAG_PATTERN)} AS n_tags,
               {cnt(LINK_PATTERN)} AS n_links,
               {cnt(SCRIPT_PATTERN)} AS n_scripts,
               {cnt(STYLE_PATTERN)} AS n_styles,
               {cnt(PARA_PATTERN)} AS n_paras,
               {cnt(HEADING_PATTERN)} AS n_headings,
               CAST(length(html) AS BIGINT) AS html_chars,
               CAST(length(regexp_replace(html, '{TAG_PATTERN}', '', 'g'))
                   AS BIGINT) AS text_chars,
               CAST((length(regexp_replace(html, '{TAG_PATTERN}', '', 'g'))
                   * 1000) // greatest(length(html), 1) AS BIGINT)
                   AS text_permille
        FROM pages ORDER BY url
    """


def q_link_features(spark, sf_dir):
    """Per-page outlink profile (operators/links.link_features):
    internal/external/dead-scheme splits, distinct external hosts,
    external permille — the URL-level link-farm/navigation-leaf
    signal next to the host graph. Full-chain DuckDB replay over the
    same deterministic HTML as q_host_graph (plus an absolute-URL
    self-link branch so internal counts vary)."""
    from metal_history_knowledge_graph_spark.operators.links import (
        extract_links,
        link_features,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    extra = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit('<a href="http://'), F.col("source"),
                 F.lit('/self">s</a>')),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<a href="http://'), F.col("lang"), F.lit(".example/p/"),
        did, F.lit('">x</a> '),
        F.lit("<a href='/local/"), did, F.lit("'>y</a> "),
        F.lit('<a href="//cdn.example/lib.js">z</a> '),
        F.lit('<a href="mailto:a@b">m</a>'), extra,
    )
    pages = docs.select(
        F.concat(F.lit("http://"), F.col("source"), F.lit("/"), did)
        .alias("url"),
        html.alias("html"),
    )
    return link_features(extract_links(pages)).orderBy("src_url")


def _link_features_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.links import HREF_PATTERN

    pat = HREF_PATTERN.replace("'", "''")
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract({u}, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<a href="http://' || lang || '.example/p/'
                       || CAST(doc_id AS VARCHAR) || '">x</a> '
                   || '<a href=''/local/' || CAST(doc_id AS VARCHAR)
                       || '''>y</a> '
                   || '<a href="//cdn.example/lib.js">z</a> '
                   || '<a href="mailto:a@b">m</a>'
                   || CASE WHEN doc_id % 2 = 0
                           THEN '<a href="http://' || source || '/self">s</a>'
                           ELSE '' END AS html
            FROM documents
        ), hrefs AS (
            SELECT url AS src_url, {host.format(u="url")} AS src_host,
                   unnest(regexp_extract_all(html, '{pat}', 1)) AS href
            FROM pages
        ), res AS (
            SELECT src_url, src_host,
                   CASE WHEN href LIKE '//%' THEN 'http:' || href
                        WHEN href LIKE '/%' THEN 'http://' || src_host || href
                        ELSE href END AS dst_url
            FROM hrefs
        ), links AS (
            SELECT src_url, src_host,
                   CASE WHEN length({host.format(u="dst_url")}) > 0
                        THEN {host.format(u="dst_url")} END AS dst_host
            FROM res
        )
        SELECT src_url,
               CAST(count(*) AS BIGINT) AS n_links,
               CAST(count(dst_host) AS BIGINT) AS n_resolved,
               CAST(sum(CASE WHEN dst_host = src_host THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_internal,
               CAST(sum(CASE WHEN dst_host IS NOT NULL
                             AND dst_host <> src_host THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_external,
               CAST(count(DISTINCT CASE WHEN dst_host IS NOT NULL
                          AND dst_host <> src_host THEN dst_host END)
                   AS BIGINT) AS n_ext_hosts,
               CAST((sum(CASE WHEN dst_host IS NOT NULL
                              AND dst_host <> src_host THEN 1 ELSE 0 END)
                     * 1000) // greatest(count(dst_host), 1) AS BIGINT)
                   AS ext_permille
        FROM links GROUP BY src_url ORDER BY src_url
    """


def q_token_budget(spark, sf_dir):
    """Budget-capped corpus selection (operators/sampling.
    select_to_token_budget): keep the best-quality documents whose
    cumulative token count fits a 100k budget — quality = a derived
    integer score, order (score desc, doc_id), straddling document
    dropped. The engine computes the global prefix over fixed score
    buckets + broadcast offsets (no global sort); the oracle replays
    the decision with one global window cumsum."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        select_to_token_budget,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 997).cast("long").alias("score"),
        (F.col("n_chars") % 503 + 1).cast("long").alias("tokens"),
    )
    out = select_to_token_budget(
        docs, score_col="score", tokens_col="tokens", budget=100_000,
        key_col="doc_id",
    )
    return out.select("doc_id", "score", "tokens", "cum_tokens") \
        .orderBy("doc_id")


def _token_budget_oracle(budget: int = 100_000) -> str:
    return f"""
        WITH scored AS (
            SELECT doc_id,
                   CAST(n_chars % 997 AS BIGINT) AS score,
                   CAST(n_chars % 503 + 1 AS BIGINT) AS tokens
            FROM documents
        ), cum AS (
            SELECT doc_id, score, tokens,
                   coalesce(CAST(sum(tokens) OVER (
                       ORDER BY score DESC, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS BIGINT), 0) AS w
            FROM scored
        )
        SELECT doc_id, score, tokens,
               CAST(w + tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE w + tokens <= {budget}
        ORDER BY doc_id
    """


def _host_graph_oracle() -> str:
    """DuckDB replay of q_host_graph's full chain. The href pattern is
    imported from operators/links.HREF_PATTERN (single source); host
    extraction/stripping mirrors links._host_of regex for regex."""
    from metal_history_knowledge_graph_spark.operators.links import (
        HREF_PATTERN,
    )

    pat = HREF_PATTERN.replace("'", "''")
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract({u}, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<a href="http://' || lang || '.example/p/'
                       || CAST(doc_id AS VARCHAR) || '">x</a> '
                   || '<a href=''/local/' || CAST(doc_id AS VARCHAR)
                       || '''>y</a> '
                   || '<a href="//cdn.example/lib.js">z</a> '
                   || '<a href="mailto:a@b">m</a>' AS html
            FROM documents
        ), hrefs AS (
            SELECT url, unnest(regexp_extract_all(html, '{pat}', 1)) AS href
            FROM pages
        ), res AS (
            SELECT {host.format(u="url")} AS src_host,
                   CASE WHEN href LIKE '//%' THEN 'http:' || href
                        WHEN href LIKE '/%' THEN 'http://'
                             || {host.format(u="url")} || href
                        ELSE href END AS dst_url
            FROM hrefs
        ), edges AS (
            SELECT src_host,
                   CASE WHEN length({host.format(u="dst_url")}) > 0
                        THEN {host.format(u="dst_url")} END AS dst_host
            FROM res
        )
        SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
        FROM edges
        WHERE dst_host IS NOT NULL AND src_host IS NOT NULL
          AND src_host <> dst_host
        GROUP BY 1, 2
        ORDER BY src_host, dst_host
    """


def q_containment(spark, sf_dir):
    """EXACT directional containment join (dedup.containment_pairs —
    the asymmetric sibling of q_prefix_join): |A∩B|/|A| ≥ 0.9, the
    quote/subset predicate benchmark decontamination wants (a
    paragraph inside a 10× longer page has tiny Jaccard but
    containment 1.0). Prefix filtering on the contained side only,
    full postings on the container side, integer micro-unit threshold
    arithmetic (IEEE ceil(0.8·5) = 5 would silently lose
    boundary-recall — pinned in test_containment). Oracle: brute
    force over all ordered pairs."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.9)


def _kcore_edges(spark, sf_dir):
    """Derived graph for the k-core query: the standard functional
    graph PLUS a circulant layer over multiples of 5 (src→src+5/10/
    15/20 mod N), so the multiples-of-5 subgraph is denser and the
    core decomposition is genuinely layered (uniform cores would let
    an H-operator bug hide behind a constant answer)."""
    n = _GRAPH_N
    base = _derived_edges(spark, sf_dir)
    dense = base.select("src").distinct().filter(F.col("src") % 5 == 0)
    extra = None
    for k in (5, 10, 15, 20):
        ek = dense.select("src", ((F.col("src") + k) % n).alias("dst"))
        extra = ek if extra is None else extra.unionByName(ek)
    return (
        base.unionByName(extra)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_kcore(spark, sf_dir):
    """k-core decomposition (operators/graph_algos.core_numbers):
    h-index iteration from degrees — monotone, order-free, fixed
    point = core number — so 10 fixed rounds replay bit-exactly in
    the chained-CTE DuckDB oracle (the classic peel has an arbitrary
    visit order no two engines would agree on). Integer-only values;
    raises if the trajectory is still moving after round 10."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        core_numbers,
    )

    e = _kcore_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return core_numbers(e, n_rounds=10).orderBy("node_id")


def _kcore_oracle(n_rounds: int = 10) -> str:
    """Chained-CTE replay of core_numbers: h0 = undirected degree,
    h_k = per-node H-operator of neighbour values — expressed as
    max(least(row_number-over-desc-values, value)), the same
    sort-rank formulation the Spark side uses (no arrays), all
    BIGINT."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        (
            "kc_extra AS (\n"
            "  SELECT src, (src + 5) % 500 AS dst FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 10) % 500 FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 15) % 500 FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 20) % 500 FROM nodes WHERE src % 5 = 0\n"
            ")"
        ),
        (
            "kc_edges AS (SELECT src, dst FROM "
            "(SELECT * FROM edges UNION SELECT * FROM kc_extra) "
            "WHERE src <> dst)"
        ),
        (
            "und AS (SELECT src AS a, dst AS b FROM kc_edges "
            "UNION SELECT dst, src FROM kc_edges)"
        ),
        "h0 AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS h FROM und GROUP BY 1)",
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"h{k} AS MATERIALIZED (\n"
            f"  SELECT a AS node, CAST(max(least(rn, hv)) AS BIGINT) AS h FROM (\n"
            f"    SELECT u.a, p.h AS hv,\n"
            f"           row_number() OVER (PARTITION BY u.a ORDER BY p.h DESC, u.b) AS rn\n"
            f"    FROM und u JOIN h{k - 1} p ON u.b = p.node\n"
            f"  ) GROUP BY a\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, h AS core FROM h{n_rounds} ORDER BY node_id"
    )


def q_ktruss(spark, sf_dir):
    """k-truss decomposition (graph_algos.truss_edges — the edge-level
    tightening of q_kcore over the SAME derived circulant-layered
    graph): synchronous triangle-support peeling, order-free and
    monotone, so 8 fixed rounds replay bit-exactly as chained DuckDB
    CTEs (ordered-wedge triangle enumeration + 3-edge unnest support +
    threshold filter per round; extra rounds past the fixed point are
    idempotent, which is what lets the engine early-exit while the
    oracle runs all 8). k = 4: every surviving edge in ≥ 2 triangles
    of the survivor subgraph."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        truss_edges,
    )

    e = _kcore_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return truss_edges(e, k=4, n_rounds=8).orderBy("a", "b")


def _ktruss_oracle(k: int = 4, n_rounds: int = 8) -> str:
    """Chained-CTE replay of truss_edges over the q_kcore derived
    graph: e0 = canonical (least, greatest) edges; each round
    enumerates triangles once via the ordered wedge join (x<y<z),
    fans each out to its 3 edges, counts support, and keeps edges
    with support ≥ k−2 — the same synchronous cascade, all BIGINT."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        (
            "kc_extra AS (\n"
            "  SELECT src, (src + 5) % 500 AS dst FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 10) % 500 FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 15) % 500 FROM nodes WHERE src % 5 = 0\n"
            "  UNION SELECT src, (src + 20) % 500 FROM nodes WHERE src % 5 = 0\n"
            ")"
        ),
        (
            "kc_edges AS (SELECT src, dst FROM "
            "(SELECT * FROM edges UNION SELECT * FROM kc_extra) "
            "WHERE src <> dst)"
        ),
        (
            "e0 AS (SELECT DISTINCT least(src, dst) AS a, "
            "greatest(src, dst) AS b FROM kc_edges)"
        ),
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"tri{r} AS MATERIALIZED (\n"
            f"  SELECT e1.a AS x, e1.b AS y, e2.b AS z\n"
            f"  FROM e{p} e1 JOIN e{p} e2 ON e1.b = e2.a\n"
            f"  JOIN e{p} e3 ON e3.a = e1.a AND e3.b = e2.b\n"
            f")"
        )
        ctes.append(
            f"sup{r} AS (\n"
            f"  SELECT a, b, CAST(count(*) AS BIGINT) AS s FROM (\n"
            f"    SELECT x AS a, y AS b FROM tri{r}\n"
            f"    UNION ALL SELECT x, z FROM tri{r}\n"
            f"    UNION ALL SELECT y, z FROM tri{r}\n"
            f"  ) GROUP BY a, b\n"
            f")"
        )
        ctes.append(
            f"e{r} AS MATERIALIZED (\n"
            f"  SELECT e.a, e.b FROM e{p} e\n"
            f"  LEFT JOIN sup{r} s ON e.a = s.a AND e.b = s.b\n"
            f"  WHERE coalesce(s.s, 0) >= {k - 2}\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT a, b FROM e{n_rounds} ORDER BY a, b"
    )


def _lpa_edges(spark, sf_dir):
    """Planted-communities graph for the LPA query: 20 blocks of 25
    nodes over the 0..499 id space — within a block every node links
    +1/+2/+3 around the block ring (degree-6 circulant, so flooding
    takes several rounds and a tie-break bug shows), and each block's
    anchor (s % 25 == 0) has ONE bridge to the next block's anchor
    (sparse inter-community noise the detector must not merge on)."""
    n = _GRAPH_N
    nodes = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % n).alias("s"))
        .distinct()
    )
    base = F.col("s") - (F.col("s") % 25)
    intra = None
    for j in (1, 2, 3):
        ej = nodes.select(
            F.col("s").alias("src"),
            (base + ((F.col("s") % 25 + j) % 25)).alias("dst"),
        )
        intra = ej if intra is None else intra.unionByName(ej)
    bridge = nodes.filter(F.col("s") % 25 == 0).select(
        F.col("s").alias("src"), ((F.col("s") + 25) % n).alias("dst")
    )
    return (
        intra.unionByName(bridge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def q_lpa_communities(spark, sf_dir):
    """Community detection by synchronous label propagation
    (graph_algos.label_propagation — Raghavan 2007, the GraphFrames
    formulation) over a planted 20-blocks-of-25 circulant graph:
    most-frequent neighbour label per round, ties → smallest label.
    Synchronous updates + the total tie-break order make 8 fixed
    rounds replay bit-exactly as chained DuckDB CTEs (asynchronous
    LPA's visit order — and random tie-breaking — would not)."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        label_propagation,
    )

    e = _lpa_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return label_propagation(e, n_rounds=8).orderBy("node_id")


def _lpa_oracle(n_rounds: int = 8) -> str:
    """Chained-CTE replay of label_propagation over the planted-block
    graph: l0 = own id; each round joins the symmetrized edges to the
    previous labels, counts votes per (node, label), and keeps the
    rank-1 label under ORDER BY (count DESC, label) — the identical
    synchronous trajectory, all BIGINT."""
    ctes = [
        f"WITH lpa_nodes AS (SELECT DISTINCT o_orderkey % {_GRAPH_N} AS s FROM orders)",
        (
            "lpa_e AS (\n"
            "  SELECT s AS src, (s - s % 25) + ((s % 25 + 1) % 25) AS dst FROM lpa_nodes\n"
            "  UNION SELECT s, (s - s % 25) + ((s % 25 + 2) % 25) FROM lpa_nodes\n"
            "  UNION SELECT s, (s - s % 25) + ((s % 25 + 3) % 25) FROM lpa_nodes\n"
            f"  UNION SELECT s, (s + 25) % {_GRAPH_N} FROM lpa_nodes WHERE s % 25 = 0\n"
            ")"
        ),
        (
            "lpa_und AS (SELECT src AS a, dst AS b FROM lpa_e WHERE src <> dst "
            "UNION SELECT dst, src FROM lpa_e WHERE src <> dst)"
        ),
        "l0 AS (SELECT DISTINCT a AS node, a AS lab FROM lpa_und)",
    ]
    for k in range(1, n_rounds + 1):
        ctes.append(
            f"l{k} AS MATERIALIZED (\n"
            f"  SELECT a AS node, lab FROM (\n"
            f"    SELECT a, lab,\n"
            f"           row_number() OVER (PARTITION BY a ORDER BY c DESC, lab) AS rn\n"
            f"    FROM (SELECT u.a, p.lab, CAST(count(*) AS BIGINT) AS c\n"
            f"          FROM lpa_und u JOIN l{k - 1} p ON u.b = p.node\n"
            f"          GROUP BY u.a, p.lab)\n"
            f"  ) WHERE rn = 1\n"
            f")"
        )
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, lab AS community FROM l{n_rounds} ORDER BY node_id"
    )


def q_burst_terms(spark, sf_dir):
    """Trending-term burst detection between consecutive corpus
    windows (operators/trends.burst_terms — the two-window rate-ratio
    screen of Kleinberg 2002's burst model): windows derived as
    doc_id % 3 crawl snapshots, rates normalized by window token
    totals, add-one smoothing on the previous window, everything in
    ppb/ppm BIGINT floor-divides (the greatest(1,·) clamp keeps both
    engines finite where DuckDB's // would raise on a floored-to-zero
    denominator). Top-100 by (burst_ppm DESC, window, term)."""
    from metal_history_knowledge_graph_spark.operators.trends import (
        burst_terms,
    )

    docs = _t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 3).alias("window"), "text"
    )
    return burst_terms(docs, min_count=3).orderBy(
        F.desc("burst_ppm"), "window", "term"
    ).limit(100)


def q_assortativity(spark, sf_dir):
    """Degree assortativity (graph_algos.degree_assortativity —
    Newman 2002) of the layered k-core derived graph: Pearson
    degree–degree correlation over directed stubs, integer-exact
    (both-orientations convention kills the square root; |num| ≤ den
    bounds the ppm scale-up; sign split out because floor-vs-truncate
    division semantics differ on negatives across engines)."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        degree_assortativity,
    )

    e = _kcore_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return degree_assortativity(e)


def _assortativity_oracle() -> str:
    """Single-statement replay over the q_kcore derived graph: the
    same symmetrize/degree/stub-join chain, all BIGINT, truncate-
    toward-zero ppm via sign × abs."""
    return f"""
        WITH {_DERIVED_EDGES_SQL},
        kc_extra AS (
          SELECT src, (src + 5) % 500 AS dst FROM nodes WHERE src % 5 = 0
          UNION SELECT src, (src + 10) % 500 FROM nodes WHERE src % 5 = 0
          UNION SELECT src, (src + 15) % 500 FROM nodes WHERE src % 5 = 0
          UNION SELECT src, (src + 20) % 500 FROM nodes WHERE src % 5 = 0
        ),
        kc_edges AS (SELECT src, dst FROM
          (SELECT * FROM edges UNION SELECT * FROM kc_extra)
          WHERE src <> dst),
        und AS (SELECT src AS a, dst AS b FROM kc_edges
                UNION SELECT dst, src FROM kc_edges),
        deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY a),
        stubs AS (
          SELECT dx.d AS dx, dy.d AS dy
          FROM und u JOIN deg dx ON u.a = dx.a JOIN deg dy ON u.b = dy.a
        ),
        stats AS (
          SELECT CAST(count(*) AS BIGINT) AS m_stubs,
                 CAST(sum(dx) AS BIGINT) AS s_x,
                 CAST(sum(dx * dy) AS BIGINT) AS s_xy,
                 CAST(sum(dx * dx) AS BIGINT) AS s_x2
          FROM stubs
        )
        SELECT m_stubs, s_x, s_xy, s_x2,
               CAST(m_stubs * s_xy - s_x * s_x AS BIGINT) AS num,
               CAST(m_stubs * s_x2 - s_x * s_x AS BIGINT) AS den,
               CASE WHEN m_stubs * s_x2 - s_x * s_x = 0 THEN NULL
                    ELSE CAST((CASE WHEN m_stubs * s_xy - s_x * s_x < 0
                                    THEN -1
                                    WHEN m_stubs * s_xy - s_x * s_x > 0
                                    THEN 1 ELSE 0 END)
                              * ((1000000 * abs(m_stubs * s_xy - s_x * s_x))
                                 // (m_stubs * s_x2 - s_x * s_x))
                              AS BIGINT)
               END AS r_ppm
        FROM stats
    """


# ---- directed macro-structure: SCC / condensation / bow-tie --------
#
# Planted bow-tie digraph over the 0..499 residue space (same node
# derivation as the LPA/kcore families): a 40-node directed circulant
# CORE (steps +1/+2/+3/+7 mod 40 — one SCC, small diameter), two
# 20-node circulant IN blocks chained into the core (40→60→0 anchors),
# two OUT blocks chained off it (39→80→100), a tendril hub fed from IN
# (45→120) fanning out to singleton leaves (120→s for s ≥ 121). Every
# edge is generated FROM THE NODES PRESENT in orders, so both engines
# see the identical graph at any sf.

_SCC_STEPS = (1, 2, 3, 7)
_SCC_ANCHORS = ((40, 60), (60, 0), (39, 80), (80, 100), (45, 120))

_SCC_SQL_CTES = (
    f"scc_nodes AS (SELECT DISTINCT o_orderkey % {_GRAPH_N} AS s FROM orders),\n"
    "scc_e AS (\n"
    "  SELECT src, dst FROM (\n"
    "    SELECT s AS src, (s + j) % 40 AS dst\n"
    "      FROM scc_nodes, (VALUES (1), (2), (3), (7)) t(j) WHERE s < 40\n"
    "    UNION\n"
    "    SELECT s, (s - ((s - 40) % 20)) + ((((s - 40) % 20) + j) % 20)\n"
    "      FROM scc_nodes, (VALUES (1), (2), (3), (7)) t(j)\n"
    "      WHERE s >= 40 AND s < 120\n"
    + "".join(
        f"    UNION SELECT {a}, {b} FROM scc_nodes WHERE s = {a}\n"
        for a, b in _SCC_ANCHORS
    )
    + "    UNION SELECT 120, s FROM scc_nodes WHERE s >= 121\n"
    "  ) WHERE src <> dst\n"
    "),\n"
    "scc_reach AS (\n"
    "  SELECT src AS a, dst AS b FROM scc_e\n"
    "  UNION\n"
    "  SELECT r.a, e.dst FROM scc_reach r JOIN scc_e e ON r.b = e.src\n"
    "),\n"
    "scc_v AS (SELECT src AS v FROM scc_e UNION SELECT dst FROM scc_e),\n"
    "scc_mutual AS (\n"
    "  SELECT r1.a AS v, r1.b AS u\n"
    "  FROM scc_reach r1 JOIN scc_reach r2 ON r1.a = r2.b AND r1.b = r2.a\n"
    "),\n"
    "scc_assign AS (\n"
    "  SELECT CAST(n.v AS BIGINT) AS node_id,\n"
    "         CAST(least(n.v, coalesce(min(m.u), n.v)) AS BIGINT) AS scc_id\n"
    "  FROM scc_v n LEFT JOIN scc_mutual m ON m.v = n.v\n"
    "  GROUP BY n.v\n"
    ")"
)


def _scc_edges(spark, sf_dir):
    n = _GRAPH_N
    nodes = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % n).alias("s"))
        .distinct()
    )
    parts = []
    core = nodes.filter(F.col("s") < 40)
    for j in _SCC_STEPS:
        parts.append(
            core.select(
                F.col("s").alias("src"), ((F.col("s") + j) % 40).alias("dst")
            )
        )
    mid = nodes.filter((F.col("s") >= 40) & (F.col("s") < 120))
    pos = (F.col("s") - 40) % 20
    for j in _SCC_STEPS:
        parts.append(
            mid.select(
                F.col("s").alias("src"),
                (F.col("s") - pos + ((pos + j) % 20)).alias("dst"),
            )
        )
    for a, b in _SCC_ANCHORS:
        parts.append(
            nodes.filter(F.col("s") == a).select(
                F.lit(a).cast("long").alias("src"),
                F.lit(b).cast("long").alias("dst"),
            )
        )
    parts.append(
        nodes.filter(F.col("s") >= 121).select(
            F.lit(120).cast("long").alias("src"), F.col("s").alias("dst")
        )
    )
    e = parts[0]
    for p in parts[1:]:
        e = e.unionByName(p)
    return e.filter(F.col("src") != F.col("dst")).distinct()


_SCC_CACHE: dict = {}


def _scc_assign(spark, sf_dir):
    """Memoized SCC assignment (localCheckpointed) — q_scc, q_scc_dag
    and q_bowtie share one peel instead of re-running the iterative
    coloring three times in a driver pass (the _kg_store pattern)."""
    key = (id(spark), sf_dir)
    if key not in _SCC_CACHE:
        from metal_history_knowledge_graph_spark.operators.webgraph import (
            strongly_connected_components,
        )

        e = _scc_edges(spark, sf_dir).select(
            F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
        )
        _SCC_CACHE[key] = strongly_connected_components(e).localCheckpoint(
            eager=True
        )
    return _SCC_CACHE[key]


def q_scc(spark, sf_dir):
    """Strongly connected components of the planted bow-tie digraph
    (operators/webgraph.strongly_connected_components — the forward-
    backward min-label coloring peel). scc_id = smallest member id, a
    pure function of the graph independent of peel order, so DuckDB
    verifies the DEFINITION by recursive-CTE transitive closure +
    mutual-reachability min rather than replaying the trajectory."""
    return _scc_assign(spark, sf_dir).orderBy("node_id")


def q_scc_dag(spark, sf_dir):
    """Condensation DAG (operators/webgraph.scc_condensation): the
    distinct SCC-level quotient edges — acyclic by construction, the
    vocabulary-sized object crawl planning schedules over."""
    from metal_history_knowledge_graph_spark.operators.webgraph import (
        scc_condensation,
    )

    e = _scc_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return scc_condensation(e, assign=_scc_assign(spark, sf_dir)).orderBy(
        "src_scc", "dst_scc"
    )


def q_bowtie(spark, sf_dir):
    """Broder bow-tie macro-map (operators/webgraph.bowtie_classify):
    CORE = largest SCC (ties → smallest id), IN strictly reaches it,
    OUT is strictly reached from it, OTHER folds tendrils/tubes/
    disconnected. Reachability flags reuse the SCC min-label kernel
    with a 0/1 seed."""
    from metal_history_knowledge_graph_spark.operators.webgraph import (
        bowtie_classify,
    )

    e = _scc_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return bowtie_classify(e, assign=_scc_assign(spark, sf_dir)).orderBy(
        "node_id"
    )


def _scc_oracle() -> str:
    return (
        f"WITH RECURSIVE {_SCC_SQL_CTES}\n"
        "SELECT node_id, scc_id FROM scc_assign ORDER BY node_id"
    )


def q_topo_layers(spark, sf_dir):
    """Crawl-wave layering (operators/webgraph.topo_layers): Kahn
    layer-at-a-time topological depth over the condensation DAG of
    the planted bow-tie digraph — layer-k components depend only on
    waves < k, the schedule crawl/recompute planning executes.
    ``layer`` = longest-path depth from the DAG sources, a pure
    function of the graph, so DuckDB verifies the DEFINITION
    (recursive max-depth walk), never the peel order."""
    from metal_history_knowledge_graph_spark.operators.webgraph import (
        scc_condensation,
        topo_layers,
    )

    e = _scc_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    dag = scc_condensation(e, assign=_scc_assign(spark, sf_dir))
    return topo_layers(dag).orderBy("node_id")


def _topo_layers_oracle(max_depth: int = 128) -> str:
    return (
        f"WITH RECURSIVE {_SCC_SQL_CTES},\n"
        f"""tl_cd AS (
    SELECT DISTINCT sa.scc_id AS src, sb.scc_id AS dst
    FROM scc_e e
    JOIN scc_assign sa ON e.src = sa.node_id
    JOIN scc_assign sb ON e.dst = sb.node_id
    WHERE sa.scc_id <> sb.scc_id
),
tl_nodes AS (SELECT src AS node FROM tl_cd UNION SELECT dst FROM tl_cd),
tl_src AS (
    SELECT node FROM tl_nodes
    WHERE node NOT IN (SELECT dst FROM tl_cd)
),
tl_walk AS (
    SELECT node, 0 AS d FROM tl_src
    UNION ALL
    SELECT c.dst, w.d + 1 FROM tl_walk w
    JOIN tl_cd c ON w.node = c.src WHERE w.d < {max_depth}
)
SELECT node AS node_id, CAST(max(d) AS BIGINT) AS layer
FROM tl_walk GROUP BY node ORDER BY node_id"""
    )


def _scc_dag_oracle() -> str:
    return (
        f"WITH RECURSIVE {_SCC_SQL_CTES}\n"
        "SELECT DISTINCT sa.scc_id AS src_scc, sb.scc_id AS dst_scc\n"
        "FROM scc_e e\n"
        "JOIN scc_assign sa ON e.src = sa.node_id\n"
        "JOIN scc_assign sb ON e.dst = sb.node_id\n"
        "WHERE sa.scc_id <> sb.scc_id\n"
        "ORDER BY src_scc, dst_scc"
    )


def _bowtie_oracle() -> str:
    return (
        f"WITH RECURSIVE {_SCC_SQL_CTES},\n"
        "bt_sizes AS (SELECT scc_id, count(*) AS c FROM scc_assign GROUP BY scc_id),\n"
        "bt_core AS (SELECT scc_id FROM bt_sizes ORDER BY c DESC, scc_id LIMIT 1),\n"
        "bt_core_nodes AS (\n"
        "  SELECT node_id AS v FROM scc_assign\n"
        "  WHERE scc_id = (SELECT scc_id FROM bt_core)\n"
        "),\n"
        "bt_reaches AS (SELECT DISTINCT r.a AS v FROM scc_reach r\n"
        "               JOIN bt_core_nodes c ON r.b = c.v),\n"
        "bt_reached AS (SELECT DISTINCT r.b AS v FROM scc_reach r\n"
        "               JOIN bt_core_nodes c ON r.a = c.v)\n"
        "SELECT s.node_id,\n"
        "       CASE WHEN c.v IS NOT NULL THEN 'CORE'\n"
        "            WHEN rc.v IS NOT NULL THEN 'IN'\n"
        "            WHEN rf.v IS NOT NULL THEN 'OUT'\n"
        "            ELSE 'OTHER' END AS cls\n"
        "FROM scc_assign s\n"
        "LEFT JOIN bt_core_nodes c ON s.node_id = c.v\n"
        "LEFT JOIN bt_reaches rc ON s.node_id = rc.v\n"
        "LEFT JOIN bt_reached rf ON s.node_id = rf.v\n"
        "ORDER BY s.node_id"
    )


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (operators/walks.random_walks)
    over the standard derived functional graph: 2 walks of length 4
    from every non-sink node, each transition picking the neighbour
    at dst-sorted rank md5_60bit('w'|walk|step|node) mod degree — a
    pure function of the graph, so the DuckDB oracle replays every
    trajectory bit-exactly with the identical md5 arithmetic (an
    executor-local RNG could never cross-check like this)."""
    from metal_history_knowledge_graph_spark.operators.walks import (
        random_walks,
    )

    e = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return random_walks(e, walk_len=4, walks_per_node=2).orderBy(
        "start", "walk_id", "step", "node"
    )


def _walks_oracle(walk_len: int = 4, walks_per_node: int = 2) -> str:
    """Chained-CTE replay of random_walks: ranked adjacency + degree
    dim, then one CTE per step joining the frontier through the
    identical md5-mod pick. Hash input text must match Spark's
    concat_ws('|', 'w', walk_id, t, node) byte-for-byte."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        (
            "rw_adj AS (SELECT src, dst,\n"
            "    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)\n"
            "         AS BIGINT) AS rn\n"
            "  FROM (SELECT DISTINCT src, dst FROM edges WHERE src <> dst))"
        ),
        "rw_deg AS (SELECT src, CAST(max(rn) AS BIGINT) AS deg FROM rw_adj GROUP BY src)",
        (
            f"w0 AS (SELECT CAST(r.range AS BIGINT) AS walk_id,\n"
            f"              d.src AS start, d.src AS node\n"
            f"       FROM rw_deg d CROSS JOIN range({walks_per_node}) r)"
        ),
    ]
    for t in range(1, walk_len + 1):
        ctes.append(
            f"w{t} AS MATERIALIZED (\n"
            f"  SELECT p.walk_id, p.start, a.dst AS node FROM (\n"
            f"    SELECT f.walk_id, f.start, f.node,\n"
            f"           CAST(('0x' || substr(md5(\n"
            f"               'w|' || CAST(f.walk_id AS VARCHAR) || '|{t}|'\n"
            f"               || CAST(f.node AS VARCHAR)), 1, 15))::UBIGINT\n"
            f"             AS BIGINT) % d.deg + 1 AS pick_rn\n"
            f"    FROM w{t - 1} f JOIN rw_deg d ON f.node = d.src\n"
            f"  ) p JOIN rw_adj a ON a.src = p.node AND a.rn = p.pick_rn\n"
            f")"
        )
    steps = ",\n".join(
        f"(SELECT walk_id, start, CAST({t} AS INT) AS step, node FROM w{t})"
        for t in range(walk_len + 1)
    ).replace(",\n", "\nUNION ALL\n")
    return (
        ",\n".join(ctes)
        + f"\nSELECT walk_id, start, step, node FROM (\n{steps}\n)"
        + "\nORDER BY start, walk_id, step, node"
    )


def q_hll_cardinality(spark, sf_dir):
    """HyperLogLog distinct-count sketch (operators/hll.py — the
    third mergeable sketch next to Bloom and count-min): per-event-type
    unique users. The driver compares the estimator's EXACT integer
    core (register count, zero registers, S = Σ 2^(49−M_j) — all
    BIGINT, the LM-score discipline: floats stay out of the oracle)
    plus the exact distinct for context; the float estimate itself is
    pinned in test_hll against the Python formula and true
    cardinalities."""
    from metal_history_knowledge_graph_spark.operators.hll import (
        hll_build,
        hll_integer_core,
    )

    ev = _t(spark, sf_dir, "events")
    core = hll_integer_core(
        hll_build(ev, "user_id", p=12, group_cols=("event_type",)),
        p=12,
        group_cols=("event_type",),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return core.join(exact, "event_type").orderBy("event_type")


def q_warc_roundtrip(spark, sf_dir):
    """WARC container source (sources/warc.py): serialize the
    documents table into spec-shaped WARC/1.0 blobs (native
    concat/encode, Content-Length byte-delimited) and parse them back
    through the Arrow-batched reader. The oracle computes every
    parsed field — blob assignment, in-blob record order, URI, byte
    length, payload sha256 — STRAIGHT from the documents table, so a
    framing bug in the writer or a delimiting bug in the reader
    breaks the row set. test_warc covers the adversarial payloads
    (embedded CRLFCRLF / fake magic) and malformed-record
    recovery."""
    from metal_history_knowledge_graph_spark.sources.warc import (
        build_warc,
        parse_warc,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    recs = parse_warc(build_warc(docs, records_per_blob=100))
    return recs.select(
        "blob_id", "record_index", "target_uri", "content_length",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
    ).orderBy("blob_id", "record_index")


_WP_RELS_PATH = _export("wp_rels")
_WP_ENTS_PATH = _export("wp_ents")
_WP_RES_PATH = _export("wp_res")
_WP_PROV_PATH = _export("wp_prov")


def q_warc_pipeline(spark, sf_dir):
    """Composed WARC-slice ingest, end-to-end (VERDICT r4 next-step
    #8): synthetic crawl pages are packed into spec-shaped WARC/1.0
    blobs (sources/warc.build_warc), parsed back through the
    Arrow-batched reader (parse_warc), rebuilt into the pages table
    with text re-derived from the payload bytes (pages_from_warc —
    the Common-Crawl ingestion boundary), and fed through the FULL
    pipeline: chunk → extract → canonicalize → triples
    (plans/pipeline.run). Returns the committed edge list with exact
    n_sources; the oracle replays the whole of operators/triples.py
    from this query's own trusted exports (_full_edges_oracle — the
    kg_triples decision oracle), so the WHOLE composed path has to
    land on the independently re-derived edge set. The WARC boundary
    itself is additionally pinned lossless by
    tests/test_warc_pipeline.py (pipeline(pages) ≡
    pipeline(pages_from_warc(parse_warc(build_warc(pages))))) and by
    q_warc_roundtrip's field-level oracle."""
    from metal_history_knowledge_graph_spark.io import TableStore
    from metal_history_knowledge_graph_spark.plans.pipeline import run
    from metal_history_knowledge_graph_spark.sources.corpus import (
        generate_pages,
    )
    from metal_history_knowledge_graph_spark.sources.warc import (
        build_warc,
        pages_from_warc,
        parse_warc,
    )

    n_pages = 90 if "0.01" in os.path.basename(str(sf_dir).rstrip("/")) else 40
    pages = generate_pages(spark, n_pages, seed=77)
    ided = pages.select(
        F.regexp_extract("url", r"(\d+)$", 1).cast("long").alias("page_id"),
        "url",
        F.col("warc_ts").cast("string").alias("warc_date"),
        F.decode("html", "utf-8").alias("html_str"),
    )
    blobs = build_warc(ided, id_col="page_id", url_col="url",
                       date_col="warc_date", payload_col="html_str",
                       records_per_blob=16)
    pages2 = pages_from_warc(parse_warc(blobs))
    root = os.path.join(_EXPORT_ROOT, "warcpipe_store")
    shutil.rmtree(root, ignore_errors=True)
    store = TableStore(spark, root)
    run(spark, pages2, store, run_id=f"warcpipe-{n_pages}", resume=False)
    _export_triples_inputs(store, _WP_RELS_PATH, _WP_ENTS_PATH, _WP_RES_PATH)
    store.read("edge_provenance").select("edge_key", "url").write.mode(
        "overwrite"
    ).parquet(_WP_PROV_PATH)
    return store.read("edges").select(
        "pred", "subj_type", "subj_name", "obj_type", "obj_name", "n_sources"
    ).orderBy("pred", "subj_name", "obj_name", "subj_type", "obj_type",
              "n_sources")


def q_bpe_pairs(spark, sf_dir):
    """BPE tokenizer training, statistics stage (operators/bpe.py):
    adjacent-symbol pair counts over the character-segmented word
    vocabulary (+ end-of-word sentinel), count-weighted — the table
    every merge decision reads. Ordered (cnt DESC, pair lexicographic)
    so row 1 IS the first merge the trainer picks; the full merge
    trajectory is pinned against a pure-Python reference in test_bpe
    (one corpus-scale pass, then vocabulary-sized iterations — the
    BPE scale shape)."""
    from metal_history_knowledge_graph_spark.operators.bpe import (
        pair_counts,
        segment_vocab,
        word_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    pc = pair_counts(segment_vocab(word_counts(docs)))
    return pc.select(
        "a", "b", F.col("cnt").cast("long").alias("cnt")
    ).orderBy(F.desc("cnt"), "a", "b")


def q_click_attribution(spark, sf_dir):
    """Batch path of the stream-stream watermarked interval join
    (streaming/incremental.interval_join_attribution — the attribution
    shape: every click within 1 h before a same-user purchase). The
    SAME function runs streaming with both sides watermarked (state
    bounded to the time horizon — pinned in test_streaming against
    this batch semantics, including a cross-micro-batch match); the
    batch degradation here gets the exact range-join SQL oracle."""
    from metal_history_knowledge_graph_spark.streaming.incremental import (
        interval_join_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return (
        interval_join_attribution(clicks, purchases, within="1 hour")
        .select(
            "user_id", "click_ts", "purchase_ts",
            F.round("purchase_value", 2).alias("purchase_value"),
            "lag_seconds",
        )
        .orderBy("user_id", "purchase_ts", "click_ts")
    )


def q_zorder(spark, sf_dir):
    """Z-order (Morton) layout math (operators/zorder.py — the
    OPTIMIZE ZORDER analogue for multi-column parquet pruning):
    range-normalized BIGINT bit interleave of (o_orderkey, o_custkey),
    bit-identical across engines because every step is integer
    multiply/floor-divide/shift/mask. The layout property itself —
    per-file footer ranges shrink on BOTH columns, vs a single-key
    sort leaving the second column unpruned — is pinned from real
    parquet metadata in test_zorder."""
    from metal_history_knowledge_graph_spark.operators.zorder import (
        with_zorder,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return with_zorder(o, ["o_orderkey", "o_custkey"]).orderBy("o_orderkey")


def q_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull a typed field out of the JSON
    props column (native get_json_object — JVM-side, no UDF) and
    aggregate it per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


def q_semi_join(spark, sf_dir):
    """LEFT SEMI join (EXISTS): customers with at least one large
    order — completes the join-type inventory alongside the broadcast,
    self, anti, range and similarity joins."""
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def q_rollup(spark, sf_dir):
    """Hierarchical aggregation (ROLLUP): per-(flag, status) totals
    plus per-flag subtotals plus the grand total in ONE pass — native
    Catalyst Expand, partial-agg friendly at every level."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_pivot(spark, sf_dir):
    """Pivot (long → wide) with a FIXED value list — no
    distinct-collect planning step, so the plan is deterministic and
    the pivot stays a single hash aggregation."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = ev.groupBy("user_id").pivot("event_type", kinds).count()
    for k in kinds:
        out = out.withColumn(k, F.coalesce(F.col(k), F.lit(0)).cast("long"))
    return out.orderBy("user_id")


def q_sliding_window(spark, sf_dir):
    """Hopping-window aggregation (30-min windows every 10 min) via the
    native F.window generator — each event lands in exactly
    width/hop = 3 windows; the DuckDB oracle replays the same epoch
    alignment with time_bucket minus hop offsets."""
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "30 minutes", "10 minutes")
    return (
        ev.withColumn("w", w)
        .groupBy(F.col("w.start").alias("win_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("win_start", "event_type")
    )


def q_dup_groups(spark, sf_dir):
    """End-to-end near-dup GROUPING (not just pairs): MinHash-LSH
    candidate pairs (exact-Jaccard verified, recall 1.0 — the
    td_minhash_pairs gate) → connected components → (doc, group
    representative = min doc id, group size). Oracle replays the exact
    all-pairs Jaccard decisions and closes them transitively with a
    recursive CTE."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        graph_components,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.unionByName(
        docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    pairs = minhash_lsh_pairs(injected, threshold=0.9).select(
        F.col("doc_a").alias("subj_id"), F.col("doc_b").alias("obj_id")
    )
    comp = graph_components(pairs)  # component_id = min doc id (union by min)
    sizes = comp.groupBy("component_id").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        comp.join(sizes, "component_id")
        .select(
            F.col("node_id").alias("doc_id"),
            F.col("component_id").alias("group_rep"),
            "group_size",
        )
        .orderBy("doc_id")
    )


# --- KG pipeline decision-oracles -------------------------------------------
#
# Same pattern as the SimHash oracle: the Spark side EXPORTS the outputs
# of the genuinely non-SQL steps (pattern extraction, the SequenceMatcher
# pair verifier, the merge folds) as parquet, and the DuckDB oracle
# independently replays every SET-ORIENTED decision downstream of them —
# connected-components grouping, relationship inference from JSON attrs,
# predicate normalization/whitelisting, id resolution, edge-level dedup —
# and must land on the same canonical tables the pipeline committed.

_KG_CANON_FORMS_PATH = _export("canon_forms")
_KG_CANON_PAIRS_PATH = _export("canon_pairs")
_KG_REPLAY_RELS_PATH = _export("replay_rels")
_KG_REPLAY_ENTS_PATH = _export("replay_ents")
_KG_REPLAY_RES_PATH = _export("replay_res")


def kg_canon_counts(spark, sf_dir):
    """Canonicalization decision-oracle: exports the surface-form table
    (downstream of the fold UDF) and the verified LSH pairs (downstream
    of the SequenceMatcher UDF), then returns per-type canonical entity
    counts from the REAL pipeline store. The DuckDB oracle closes the
    exported pair graph transitively (recursive CTE) and must count the
    same groups — i.e. it independently re-derives stage 5+6 grouping
    from stages 1–4's outputs."""
    from metal_history_knowledge_graph_spark.operators.canonicalize import (
        candidate_pairs_lsh,
        surface_forms,
        verify_pairs,
    )
    from metal_history_knowledge_graph_spark.operators.extract import mentions_of

    store = _kg_store(spark, sf_dir)
    mentions = mentions_of(store.read("extracted"))
    forms = surface_forms(mentions).localCheckpoint(eager=True)
    pairs = verify_pairs(candidate_pairs_lsh(forms))
    forms.select("entity_type", "form_norm").write.mode("overwrite").parquet(
        _KG_CANON_FORMS_PATH
    )
    pairs.select(
        "entity_type", F.col("left").alias("lhs"), F.col("right").alias("rhs")
    ).write.mode("overwrite").parquet(_KG_CANON_PAIRS_PATH)
    return (
        store.read("entities")
        .groupBy("entity_type")
        .agg(F.count(F.lit(1)).alias("n_entities"))
        .orderBy("entity_type")
    )


def kg_edge_replay(spark, sf_dir):
    """Triple-emission decision-oracle: exports the raw extraction
    relationship candidates plus the canonical entities/resolution map,
    then returns per-predicate edge counts from the REAL pipeline edges
    table. The DuckDB oracle independently replays relationship
    inference (MEMBER_OF/RELEASED/CONTAINS_TRACK from the JSON attrs),
    predicate alias-normalization + whitelisting, the singular→plural
    endpoint mapping, id resolution against the exported resolution
    map, and (pred, subj, obj)-level dedup — the whole of
    operators/triples.py's set logic."""
    from metal_history_knowledge_graph_spark.operators.extract import (
        relationships_of,
    )

    store = _kg_store(spark, sf_dir)
    relationships_of(store.read("extracted")).select(
        "rel_type", "from_entity_type", "from_entity_name",
        "to_entity_type", "to_entity_name",
    ).write.mode("overwrite").parquet(_KG_REPLAY_RELS_PATH)
    store.read("entities").select(
        "entity_type", "canonical_name", "attrs_json"
    ).write.mode("overwrite").parquet(_KG_REPLAY_ENTS_PATH)
    store.read("resolution").select(
        "entity_type", "form_norm", "canonical_id"
    ).write.mode("overwrite").parquet(_KG_REPLAY_RES_PATH)
    return (
        store.read("edges")
        .groupBy("pred")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.countDistinct("subj_id").alias("n_subjects"),
            F.countDistinct("obj_id").alias("n_objects"),
        )
        .orderBy("pred")
    )


_KG_ORPHAN_ENTS_PATH = _export("orphan_ents")
_KG_ORPHAN_EDGES_PATH = _export("orphan_edges")


def kg_orphans(spark, sf_dir):
    """Orphaned-node report (graph_explorer.py:108-135: per-type
    ``WHERE NOT EXISTS {{ MATCH (n)-[]-() }}``) as a decision oracle:
    exports the canonical entity ids and the edge endpoint ids, returns
    per-type orphan counts + first orphan name from the REAL pipeline
    store via validate.orphan_nodes (two left-anti joins); the DuckDB
    oracle replays the NOT EXISTS decision over the same exports."""
    from metal_history_knowledge_graph_spark.operators.validate import orphan_nodes

    store = _kg_store(spark, sf_dir)
    ents = store.read("entities")
    edges = store.read("edges")
    ents.select("entity_type", "canonical_name", "canonical_id") \
        .write.mode("overwrite").parquet(_KG_ORPHAN_ENTS_PATH)
    edges.select("subj_id", "obj_id") \
        .write.mode("overwrite").parquet(_KG_ORPHAN_EDGES_PATH)
    return (
        orphan_nodes(ents, edges)
        .groupBy("entity_type")
        .agg(
            F.count(F.lit(1)).alias("n_orphans"),
            F.min("canonical_name").alias("first_orphan"),
        )
        .orderBy("entity_type")
    )


_KG_EC_FORMS_PATH = _export("ec_forms")
_KG_EC_PAIRS_PATH = _export("ec_pairs")


def kg_entity_counts(spark, sf_dir):
    """Per-type canonical entity count + mention mass, as a decision
    oracle (upgraded from rows-only, VERDICT r3 #4): exports the folded
    surface forms WITH their per-form mention counts plus the verified
    LSH pairs; the DuckDB oracle closes the pair graph transitively
    (the kg_canon_counts pattern) and must reproduce BOTH numbers —
    n_entities from the closure's group count, n_mentions because the
    per-group sum of form counts is invariant under the grouping
    (merge_rules sums n_mentions across a group's forms)."""
    from metal_history_knowledge_graph_spark.operators.canonicalize import (
        candidate_pairs_lsh,
        surface_forms,
        verify_pairs,
    )
    from metal_history_knowledge_graph_spark.operators.extract import mentions_of

    store = _kg_store(spark, sf_dir)
    mentions = mentions_of(store.read("extracted"))
    forms = surface_forms(mentions).localCheckpoint(eager=True)
    pairs = verify_pairs(candidate_pairs_lsh(forms))
    forms.select("entity_type", "form_norm", "n_mentions").write.mode(
        "overwrite"
    ).parquet(_KG_EC_FORMS_PATH)
    pairs.select(
        "entity_type", F.col("left").alias("lhs"), F.col("right").alias("rhs")
    ).write.mode("overwrite").parquet(_KG_EC_PAIRS_PATH)
    return (
        store.read("entities")
        .groupBy("entity_type")
        .agg(F.count(F.lit(1)).alias("n_entities"),
             F.sum("n_mentions").alias("n_mentions"))
        .orderBy("entity_type")
    )


_KG_TRIPLES_RELS_PATH = _export("triples_rels")
_KG_TRIPLES_ENTS_PATH = _export("triples_ents")
_KG_TRIPLES_RES_PATH = _export("triples_res")
_KG_TRIPLES_PROV_PATH = _export("triples_prov")


def kg_triples(spark, sf_dir):
    """Full canonical edge list with names and exact n_sources, as a
    decision oracle (upgraded from rows-only, VERDICT r3 #4): exports
    the raw relationship candidates, canonical entities, the resolution
    map WITH canonical names, and the committed (edge_key, url)
    provenance pairs. The DuckDB oracle replays the whole of
    operators/triples.py — inference, alias-normalization + whitelist,
    resolution, post-resolution (pred, subj, obj) dedup — then attaches
    names from the resolution map and recomputes each edge's exact
    n_sources by re-deriving edge_key = md5(pred|subj_id|obj_id) over
    the exported provenance pairs (operators/triples.py build_triples'
    edge_key + finalize_edges' pooled counts)."""
    from metal_history_knowledge_graph_spark.operators.extract import (
        relationships_of,
    )

    store = _kg_store(spark, sf_dir)
    relationships_of(store.read("extracted")).select(
        "rel_type", "from_entity_type", "from_entity_name",
        "to_entity_type", "to_entity_name",
    ).write.mode("overwrite").parquet(_KG_TRIPLES_RELS_PATH)
    store.read("entities").select(
        "entity_type", "canonical_name", "attrs_json"
    ).write.mode("overwrite").parquet(_KG_TRIPLES_ENTS_PATH)
    store.read("resolution").select(
        "entity_type", "form_norm", "canonical_id", "canonical_name"
    ).write.mode("overwrite").parquet(_KG_TRIPLES_RES_PATH)
    store.read("edge_provenance").select("edge_key", "url").write.mode(
        "overwrite"
    ).parquet(_KG_TRIPLES_PROV_PATH)
    return store.read("edges").select(
        "pred", "subj_type", "subj_name", "obj_type", "obj_name", "n_sources"
    ).orderBy("pred", "subj_name", "obj_name", "subj_type", "obj_type",
              "n_sources")


_KG_BHAM_EDGES_PATH = _export("bham_edges")
_KG_BHAM_LOCS_PATH = _export("bham_locs")


def kg_birmingham(spark, sf_dir):
    """The reference's flagship lookup (bands formed in Birmingham),
    as a decision oracle (upgraded from rows-only, VERDICT r3 #4):
    exports the FORMED_IN edge endpoints and the location dim; the
    DuckDB oracle replays the broadcast join + city filter."""
    store = _kg_store(spark, sf_dir)
    ents = store.read("entities")
    edges = store.read("edges")
    edges.filter(F.col("pred") == "FORMED_IN").select(
        "subj_name", "obj_id", "n_sources"
    ).write.mode("overwrite").parquet(_KG_BHAM_EDGES_PATH)
    ents.filter(F.col("entity_type") == "locations").select(
        "canonical_id", "canonical_name"
    ).write.mode("overwrite").parquet(_KG_BHAM_LOCS_PATH)
    locations = ents.filter(F.col("entity_type") == "locations").select(
        F.col("canonical_id").alias("obj_id"), F.col("canonical_name").alias("city")
    )
    return (
        edges.filter(F.col("pred") == "FORMED_IN")
        .join(F.broadcast(locations), "obj_id")
        .filter(F.col("city") == "Birmingham")
        .select(F.col("subj_name").alias("band"), "city", "n_sources")
        .orderBy("band")
    )


_KG_AT_RELS_PATH = _export("at_rels")
_KG_AT_ENTS_PATH = _export("at_ents")
_KG_AT_RES_PATH = _export("at_res")
_KG_CO_RELS_PATH = _export("co_rels")
_KG_CO_ENTS_PATH = _export("co_ents")
_KG_CO_RES_PATH = _export("co_res")


def _export_triples_inputs(store, rels_path, ents_path, res_path):
    """The kg_triples/kg_edge_replay trusted-export triple: raw
    relationship candidates, canonical entities (for inference), and
    the resolution map with names — enough for an oracle to re-derive
    the full named edge list from scratch."""
    from metal_history_knowledge_graph_spark.operators.extract import (
        relationships_of,
    )

    relationships_of(store.read("extracted")).select(
        "rel_type", "from_entity_type", "from_entity_name",
        "to_entity_type", "to_entity_name",
    ).write.mode("overwrite").parquet(rels_path)
    store.read("entities").select(
        "entity_type", "canonical_name", "attrs_json"
    ).write.mode("overwrite").parquet(ents_path)
    store.read("resolution").select(
        "entity_type", "form_norm", "canonical_id", "canonical_name"
    ).write.mode("overwrite").parquet(res_path)


def kg_album_tracks(spark, sf_dir):
    """Album → track listing via CONTAINS_TRACK, as a decision oracle
    (upgraded from rows-only, r4): exports the triples.py inputs and
    the DuckDB oracle re-derives the FULL edge list (inference +
    alias/whitelist + resolution + dedup — the kg_triples replay) and
    projects the CONTAINS_TRACK slice, so the read query is checked
    against edges derived independently of the store."""
    from metal_history_knowledge_graph_spark.plans.queries import album_tracks

    store = _kg_store(spark, sf_dir)
    _export_triples_inputs(store, _KG_AT_RELS_PATH, _KG_AT_ENTS_PATH,
                           _KG_AT_RES_PATH)
    return album_tracks(store.read("edges"))


def kg_cooccurrence(spark, sf_dir):
    """Band co-mention pairs over MENTIONED_WITH|CONTEMPORARY_OF
    (reference web_graph.py:181-186), as a decision oracle (upgraded
    from rows-only, r4): the DuckDB oracle re-derives the edge list
    from the exported triples.py inputs, then replays the undirected
    least/greatest normalization, the sorted-distinct predicate list,
    and the per-pair link count."""
    from metal_history_knowledge_graph_spark.plans.queries import band_cooccurrence

    store = _kg_store(spark, sf_dir)
    _export_triples_inputs(store, _KG_CO_RELS_PATH, _KG_CO_ENTS_PATH,
                           _KG_CO_RES_PATH)
    return band_cooccurrence(store.read("edges")).withColumn(
        "predicates", F.array_join("predicates", ",")
    )


_KG_DV_FORMS_PATH = _export("dv_forms")
_KG_DV_VARS_PATH = _export("dv_vars")
_KG_DV_PAIRS_PATH = _export("dv_pairs")


def kg_dedup_variants(spark, sf_dir):
    """Multi-form canonical entities with their variation counts, as a
    decision oracle (upgraded from rows-only, r4): exports the folded
    surface forms (with first-seen order keys, first names and
    exploded name variations) plus the verified LSH pairs; the DuckDB
    oracle closes the pair graph transitively (kg_canon_counts
    pattern), ELECTS each group's canonical name by the pinned
    (first_seen, form_norm) total order — the merge_rules
    first-dict-wins semantics — counts member forms and distinct name
    variations, and keeps groups with n_forms > 1."""
    from metal_history_knowledge_graph_spark.operators.canonicalize import (
        candidate_pairs_lsh,
        surface_forms,
        verify_pairs,
    )
    from metal_history_knowledge_graph_spark.operators.extract import mentions_of

    store = _kg_store(spark, sf_dir)
    mentions = mentions_of(store.read("extracted"))
    forms = surface_forms(mentions).localCheckpoint(eager=True)
    pairs = verify_pairs(candidate_pairs_lsh(forms))
    forms.select("entity_type", "form_norm", "first_seen",
                 "first_name").write.mode("overwrite").parquet(
        _KG_DV_FORMS_PATH)
    forms.select(
        "entity_type", "form_norm",
        F.explode_outer("variations").alias("variation"),
    ).write.mode("overwrite").parquet(_KG_DV_VARS_PATH)
    pairs.select(
        "entity_type", F.col("left").alias("lhs"), F.col("right").alias("rhs")
    ).write.mode("overwrite").parquet(_KG_DV_PAIRS_PATH)
    return (
        store.read("entities")
        .filter(F.col("n_forms") > 1)
        .select("entity_type", "canonical_name",
                F.col("n_forms").cast("long").alias("n_forms"),
                F.size("variations").cast("long").alias("n_variations"))
        .orderBy("entity_type", "canonical_name")
    )


_KG_CS_CHUNKS_PATH = _export("cs_chunks")


def kg_chunk_stats(spark, sf_dir):
    """Per-url chunk counts/sizes over the stored chunks table, as a
    decision oracle (upgraded from rows-only, r4): the entry re-runs
    the chunking stage FRESH from the deterministic source pages
    (sources/corpus.generate_pages, seed 42 — the same input the
    pipeline consumed) and exports (url, char_count); the DuckDB
    oracle aggregates that independent recompute, so a stale, resumed,
    or corrupted store (or a chunker drift between pipeline runs)
    hash-mismatches."""
    from metal_history_knowledge_graph_spark.operators.chunk import chunk_pages
    from metal_history_knowledge_graph_spark.sources.corpus import generate_pages

    store = _kg_store(spark, sf_dir)
    n_pages = 300 if "0.01" in os.path.basename(
        os.path.abspath(sf_dir).rstrip("/")) else 120
    chunk_pages(generate_pages(spark, n_pages, seed=42)).select(
        "url", "char_count"
    ).write.mode("overwrite").parquet(_KG_CS_CHUNKS_PATH)
    return (
        store.read("chunks")
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum("char_count").cast("long").alias("total_chars"))
        .orderBy("url")
    )


def td_minhash_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs over documents with injected dups
    (banded minhash signatures → bucket join → exact-Jaccard verify).

    Oracle-checked: the decision function is exact shingle Jaccard —
    LSH is only the candidate prefilter, and with 16 OR-amplified band
    tables its recall vs the exact all-pairs oracle is 1.0 on this
    corpus (identical shingle sets always share every band bucket;
    verified empirically at sf0.001 and sf0.01 in
    tests/test_oracle_parity.py)."""
    from metal_history_knowledge_graph_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.unionByName(
        docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return minhash_lsh_pairs(injected, threshold=0.9).orderBy("doc_a", "doc_b")


def td_minhash_probe(spark, sf_dir):
    """Incremental near-dup (dedup.minhash_probe_new): the injected
    batch probes the base corpus's stored band table WITHOUT
    recomputing it — the growing-corpus maintenance path. Oracle: the
    exact cross-side Jaccard pairs (recall 1.0 here for the same
    reason as td_minhash_pairs — the injected docs are exact copies,
    so their shingle sets share every band bucket)."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        minhash_band_table,
        minhash_probe_new,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    index = minhash_band_table(docs)
    return minhash_probe_new(new, index, threshold=0.9).orderBy(
        "doc_new", "doc_old"
    )


#: signature export consumed by the td_simhash_pairs DuckDB oracle —
#: written fresh by the Spark side on every call, read by the oracle SQL.
_SIMHASH_SIG_PATH = _export("simhash_sig")


def td_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs, decision-function-oracled: Spark
    computes the 64-bit signatures (Arrow-batched numpy UDF — the only
    non-SQL step) and EXPORTS them; the banding (4×16-bit chunks),
    bucket join and hamming ≤ 3 verify are then replayed exactly in
    DuckDB over the same signatures (shift/mask/xor/bit_count are
    SQL-expressible) — the same oracle pattern as td_minhash_pairs'
    exact-Jaccard decision check."""
    from metal_history_knowledge_graph_spark.operators.dedup import (
        simhash_pairs_from_signatures,
        simhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = docs.unionByName(
        docs.filter(F.col("doc_id") < 30).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    signed = simhash_signatures(injected)
    signed.write.mode("overwrite").parquet(_SIMHASH_SIG_PATH)
    back = spark.read.parquet(_SIMHASH_SIG_PATH)
    return (
        simhash_pairs_from_signatures(back, max_hamming=3)
        .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


def td_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate nearest neighbours over a PERSISTED
    (table, bucket)-partitioned index — each probe is a
    partition-pruned point read, not a full scan. DECISION-ORACLED
    (r3, was rows-only): the hyperplane bank is exported, and DuckDB
    replays the index's bucket assignment, the per-table query-bucket
    computation (bit-exact left-folds, the q_lsh_buckets/td_ivf_topk
    pattern), the 6-probe candidate union, and the exact-cosine
    re-rank. Indexed == ad-hoc results remain pinned by
    tests/test_trainingdata_ops.py."""
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _dot,
        hyperplanes_rows,
        lsh_build,
        with_l2_normalized,
    )

    embs = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    row = embs.filter(F.col("vec_id") == 0).head()
    q = [float(v) for v in row.embedding]
    dim = len(q)
    spark.createDataFrame(
        hyperplanes_rows(dim, n_planes=8, num_tables=6),
        "tbl int, plane_idx int, components array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(_LSH_TOPK_PLANES_PATH)
    # double-cast index (the r2 cache held raw-float buckets — keyed
    # separately so the oracle replays the exact doubles on disk)
    idx_path = _current_cache_root(
        f"kg_lsh_index_d_{os.path.basename(os.path.abspath(sf_dir))}")
    if not os.path.isdir(idx_path):
        tmp = idx_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        lsh_build(embs, num_tables=6).write.partitionBy("table", "bucket").parquet(tmp)
        os.rename(tmp, idx_path)
    index = spark.read.parquet(idx_path)
    # lsh_topk_indexed's probe decision, with 4dp rounding BEFORE the
    # ordering (oracle-stable tie-break, the q_cosine_topk convention)
    import math

    qn = math.sqrt(sum(v * v for v in q)) or 1.0
    qunit = [v / qn for v in q]
    from metal_history_knowledge_graph_spark.operators.simsearch import (
        _bucket_of,
        _hyperplanes,
    )

    cond = None
    for t in range(6):
        qb = _bucket_of(qunit, _hyperplanes(dim, 8, t))
        this = (F.col("table") == t) & (F.col("bucket") == qb)
        cond = this if cond is None else (cond | this)
    cand = index.filter(cond).dropDuplicates(["vec_id"])
    qarr = F.array(*[F.lit(v) for v in qunit])
    scored = with_l2_normalized(cand).withColumn(
        "cosine", F.round(_dot(F.col("unit_vec"), qarr), 4)
    )
    return (
        scored.select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


_KG_COMP_EDGES_PATH = _export("comp_edges")


def kg_components(spark, sf_dir):
    """Connected components of the REAL entity graph, as a decision
    oracle (upgraded from rows-only, VERDICT r3 #4): exports the edge
    endpoint pairs; the DuckDB oracle independently closes the
    undirected graph transitively (recursive CTE, min-label = the
    union-find root convention of graph_algos.graph_components) and
    must reproduce every (component_id, n_nodes) row."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import component_sizes

    store = _kg_store(spark, sf_dir)
    edges = store.read("edges")
    edges.select("subj_id", "obj_id").write.mode("overwrite").parquet(
        _KG_COMP_EDGES_PATH
    )
    return component_sizes(edges)


_KG_BT_EDGES_PATH = _export("bt_edges")


def kg_betweenness(spark, sf_dir):
    """Sampled-BFS betweenness over the entity graph, as a decision
    oracle (upgraded from rows-only, r4): exports the raw edge
    endpoints; the DuckDB oracle independently symmetrizes, BFS-walks
    the 16 smallest-id sources to depth 6, rebuilds the min-parent
    shortest-path trees and counts interior nodes — the q_betweenness
    recursive-CTE replay pointed at the REAL entity graph."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import betweenness_sampled

    store = _kg_store(spark, sf_dir)
    edges = store.read("edges")
    edges.select("subj_id", "obj_id").write.mode("overwrite").parquet(
        _KG_BT_EDGES_PATH
    )
    return betweenness_sampled(edges).limit(20)


_KG_PR_EDGES_PATH = _export("pr_edges")
_KG_PR_NAMES_PATH = _export("pr_names")


def kg_pagerank(spark, sf_dir):
    """Fixed-point PageRank over the real entity graph, as a decision
    oracle (upgraded from rows-only, r4): exports the raw edge
    endpoints + the id→name dim; the DuckDB oracle replays all 8
    iterations of the BIGINT floor-divide trajectory (the q_pagerank
    chained-CTE replay pointed at the REAL entity graph), attaches
    names, and must reproduce the top-20 bit-exactly."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import pagerank

    store = _kg_store(spark, sf_dir)
    edges = store.read("edges")
    names = (
        store.read("entities")
        .select(F.col("canonical_id").alias("node_id"), "canonical_name")
        .distinct()
    )
    edges.select("subj_id", "obj_id").write.mode("overwrite").parquet(
        _KG_PR_EDGES_PATH
    )
    names.write.mode("overwrite").parquet(_KG_PR_NAMES_PATH)
    return (
        pagerank(edges, n_iters=8)
        .join(F.broadcast(names), "node_id")
        .orderBy(F.desc("rank_fixed"), "node_id")
        .limit(20)
    )


_KG_PA_EDGES_PATH = _export("pa_edges")


def kg_path_analysis(spark, sf_dir):
    """Longest predicate chains over the real entity graph with the
    full node-name path attached — BOTH reference path queries:
    influence chains (graph_metrics.py:358-377) and genre evolution
    (graph_metrics.py:380-399). Decision oracle (upgraded from
    rows-only, r4): exports the per-predicate edge slices with both
    endpoint names; the DuckDB oracle independently enumerates every
    node-simple path to 4 hops (recursive CTE carrying the name chain
    string), applies the min-name-per-node dim and the per-predicate
    (hops DESC, chain_str) top-10 cut."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        longest_chains,
    )

    store = _kg_store(spark, sf_dir)
    edges = store.read("edges")
    edges.filter(F.col("pred").isin("INFLUENCED_BY", "EVOLVED_INTO")).select(
        "pred", "subj_id", "obj_id", "subj_name", "obj_name"
    ).write.mode("overwrite").parquet(_KG_PA_EDGES_PATH)
    out = None
    for pred in ("INFLUENCED_BY", "EVOLVED_INTO"):
        chains = longest_chains(edges, pred=pred, max_hops=4, top_n=10) \
            .select(F.lit(pred).alias("pred"), "hops", "chain_str")
        out = chains if out is None else out.unionByName(chains)
    return out


_KG_VAL_ENTS_PATH = _export("val_ents")


def kg_validation(spark, sf_dir):
    """Entity validation issue counts per (type, severity, rule), as a
    decision oracle (upgraded from rows-only, r4): exports the RAW
    entity rows (type, names, attrs_json); the DuckDB oracle replays
    every rule from scratch — including the attrs_json unpacking the
    Spark side does via from_json (json_extract_string/TRY_CAST/
    json_array_length on the DuckDB side) — and the duplicate-name
    check, then aggregates. A drifted rule predicate, a json-decoding
    change, or a store-side duplicate hash-mismatches."""
    from metal_history_knowledge_graph_spark.operators.validate import validate_entities

    store = _kg_store(spark, sf_dir)
    ents = store.read("entities")
    ents.select("entity_type", "canonical_name", "name_norm",
                "attrs_json").write.mode("overwrite").parquet(
        _KG_VAL_ENTS_PATH)
    return (
        validate_entities(ents)
        .groupBy("entity_type", "severity", "rule")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("entity_type", "severity", "rule")
    )


_KG_HS_SCORES_PATH = _export("hs_scores")
_KG_HS_ENTS_PATH = _export("hs_ents")


def kg_hybrid_search(spark, sf_dir):
    """0.7·semantic + 0.3·keyword hybrid entity search, as a decision
    oracle (upgraded from rows-only, r4): exports the FULL semantic
    score table (every entity's cosine against the query vector, the
    same expression the search path evaluates — td_ivf_topk's
    exported-decision pattern) plus the entity dim; the DuckDB oracle
    independently applies the top-k·3 semantic cut, the exact/prefix/
    contains keyword tiers, the full-outer 0.7/0.3 merge and the
    (final_score DESC, canonical_name) top-k."""
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
        embed_texts_df,
        hybrid_search,
    )
    from metal_history_knowledge_graph_spark.operators.simsearch import cosine_topk

    store = _kg_store(spark, sf_dir)
    ents = store.read("entities")
    vecs = embed_entities(ents)
    qvec = [float(v) for v in embed_texts_df(spark, ["sabbath"]).head().embedding]
    cosine_topk(vecs, qvec, k=2**31 - 1, id_col="canonical_id").write.mode(
        "overwrite").parquet(_KG_HS_SCORES_PATH)
    ents.select("canonical_id", "entity_type", "canonical_name",
                "name_norm").write.mode("overwrite").parquet(_KG_HS_ENTS_PATH)
    return hybrid_search(spark, ents, vecs, "sabbath", k=5) \
        .select("entity_type", "canonical_name", "final_score")


_KG_IS_HITS_PATH = _export("is_hits")
_KG_IS_CTX_PATH = _export("is_ctx")


def kg_intent_search(spark, sf_dir):
    """Natural-language intent dispatch + graph-enriched hybrid search
    (reference semantic_query.py:70-331), as a decision oracle
    (upgraded from rows-only, r4): parse_intent('bands similar to
    sabbath') routes the extracted target into the hybrid search;
    the entry exports those hybrid hits (whose merge decision is
    itself oracled by kg_hybrid_search) plus the 1-hop graph-context
    dim, and the DuckDB oracle independently replays the context
    left-join, the tiered explanation string (similarity band |
    intent blurb | first-3 genres | member count), the
    intent-conditional boost (1.0 for find_similar) and the
    (combined_score DESC, canonical_name) top-k."""
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
        hybrid_search,
    )
    from metal_history_knowledge_graph_spark.operators.intent import (
        graph_context,
        intent_search,
    )

    store = _kg_store(spark, sf_dir)
    ents = store.read("entities")
    vecs = embed_entities(ents)
    edges = store.read("edges")
    hybrid_search(spark, ents, vecs, "sabbath", k=10).select(
        "canonical_id", "entity_type", "canonical_name", "final_score"
    ).write.mode("overwrite").parquet(_KG_IS_HITS_PATH)
    graph_context(ents, edges).select(
        "canonical_id", "genres", "n_members"
    ).write.mode("overwrite").parquet(_KG_IS_CTX_PATH)
    return intent_search(
        spark, ents, vecs, edges,
        "bands similar to sabbath", k=5,
    ).withColumn("genres", F.array_join(F.coalesce("genres", F.array()), ","))


_KG_MON_EDGES_PATH = _export("mon_edges")
_KG_MON_VARS_PATH = _export("mon_vars")
_KG_MON_TRUTH_PATH = _export("mon_truth")
_KG_MON_RANKING_PATH = _export("mon_ranking")
_KG_MON_LABELS_PATH = _export("mon_labels")


def kg_monitor(spark, sf_dir):
    """Quality monitors (extraction F1 / search latency / graph growth
    / retrieval P-R-MRR@10 over a labeled query set) with
    metrics-history append (reference quality_monitor.py:25-430 +
    benchmark_search.py:97-148), as a decision oracle (upgraded from
    rows-only, r4): the DuckDB oracle re-derives the F1 from the
    exported triple-match inputs FROM SCRATCH (the kg_quality replay,
    float arithmetic this time — both engines divide the same BIGINT
    counts), replays the MRR@10 first-relevant-rank arithmetic over
    the exported ranking/labels tables, and counts entities/edges from
    the exports. Sandbox latency threshold is loosened — Spark fixed
    overhead, not Kuzu point-lookup scale."""
    from metal_history_knowledge_graph_spark.operators.embeddings import (
        embed_entities,
        embed_texts_df,
    )
    from metal_history_knowledge_graph_spark.operators.monitor import (
        DEFAULT_THRESHOLDS,
        run_all_monitors,
    )
    from metal_history_knowledge_graph_spark.operators.simsearch import batch_topk
    from metal_history_knowledge_graph_spark.sources.corpus import generate_truth

    store = _kg_store(spark, sf_dir)
    n_pages = 300 if "0.01" in os.path.basename(os.path.abspath(sf_dir)) else 120
    truth = generate_truth(spark, n_pages, seed=42)
    relevance = {
        "Black Sabbath": ["Black Sabbath"],
        "Judas Priest": ["Judas Priest"],
        "heavy metal birmingham": ["Black Sabbath", "Birmingham"],
    }
    row, _alerts = run_all_monitors(
        spark, store, truth,
        {**DEFAULT_THRESHOLDS, "search_latency_max_ms": 60_000.0,
         "search_mrr_min": 0.0},
        relevance=relevance,
    )
    # oracle exports: the F1 replay inputs (from-scratch triple match)
    # and the ranking/labels tables the MRR arithmetic consumed — the
    # ranking is recomputed with the same deterministic expression
    # monitor_search_quality evaluated (search_quality_benchmark's
    # batch_topk + name join).
    _export_prf_inputs(store, truth, _KG_MON_EDGES_PATH,
                       _KG_MON_VARS_PATH, _KG_MON_TRUTH_PATH)
    ents = store.read("entities")
    texts = list(relevance.keys())
    queries_df = embed_texts_df(spark, texts).select(
        F.col("qid").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    batch_topk(embed_entities(ents), queries_df, k=10,
               id_col="canonical_id").join(
        ents.select("canonical_id", "canonical_name"), "canonical_id"
    ).select("query_id", "canonical_name", "rank").write.mode(
        "overwrite").parquet(_KG_MON_RANKING_PATH)
    spark.createDataFrame(
        [(i, name) for i, t in enumerate(texts) for name in relevance[t]],
        "query_id int, canonical_name string",
    ).write.mode("overwrite").parquet(_KG_MON_LABELS_PATH)
    return row.select("n_entities", "n_edges", "f1", "search_mrr")


def _export_prf_inputs(store, truth, edges_path, vars_path, truth_path):
    """Trusted-export triple for the quality-gate replay: keyed edges,
    the per-entity variation vocabulary (lowered, with canonical_name
    folded in — plans/quality._variation_map's content), and the
    deterministic corpus truth. Enough for an oracle to re-derive
    matched_edges / matched_truth and the P/R/F1 arithmetic from
    scratch."""
    store.read("edges").select(
        "edge_key", "pred", "subj_id", "obj_id"
    ).write.mode("overwrite").parquet(edges_path)
    (
        store.read("entities")
        .select(
            "canonical_id",
            F.explode(
                F.array_union("variations", F.array("canonical_name"))
            ).alias("var"),
        )
        .withColumn("var", F.lower(F.trim("var")))
        .distinct()
        .write.mode("overwrite").parquet(vars_path)
    )
    truth.select("pred", "subj_name", "obj_name").write.mode(
        "overwrite").parquet(truth_path)


_KG_QL_EDGES_PATH = _export("ql_edges")
_KG_QL_VARS_PATH = _export("ql_vars")
_KG_QL_TRUTH_PATH = _export("ql_truth")


def kg_quality(spark, sf_dir):
    """Triple P/R vs the corpus oracle — the north-rule gate as a
    query, now itself a decision oracle (upgraded from rows-only, r4):
    exports keyed edges + variation vocabulary + the deterministic
    truth; the DuckDB oracle re-derives the variation-set triple
    matching and the P/R/F1 arithmetic from scratch. Ratios are
    integer micro-units (floor-divide) so both engines agree
    bit-exactly with no float-rounding seam."""
    from metal_history_knowledge_graph_spark.plans.quality import triple_prf
    from metal_history_knowledge_graph_spark.sources.corpus import generate_truth

    store = _kg_store(spark, sf_dir)
    n_pages = 300 if "0.01" in os.path.basename(os.path.abspath(sf_dir)) else 120
    truth = generate_truth(spark, n_pages, seed=42)
    _export_prf_inputs(store, truth, _KG_QL_EDGES_PATH, _KG_QL_VARS_PATH,
                       _KG_QL_TRUTH_PATH)
    prf = triple_prf(store.read("edges"), truth, store.read("entities"))
    pm = (10**6 * prf["matched_edges"]) // prf["n_edges"] if prf["n_edges"] else 0
    rm = (10**6 * prf["matched_truth"]) // prf["n_truth"] if prf["n_truth"] else 0
    f1m = (2 * pm * rm) // (pm + rm) if (pm + rm) else 0
    return spark.createDataFrame(
        [(pm, rm, f1m, prf["n_edges"], prf["n_truth"],
          prf["matched_edges"], prf["matched_truth"])],
        "precision_micro long, recall_micro long, f1_micro long, "
        "n_edges long, n_truth long, matched_edges long, matched_truth long",
    )


def q_priority_sample(spark, sf_dir):
    """Priority sampling (operators/sampling.priority_sample — the
    Duffield–Lund–Thorup weighted WITHOUT-replacement top-k with
    unbiased subset-sum estimators): 40 documents weighted by n_chars.
    Priorities are integer-exact (md5-derived 32-bit u, inverted key
    qkey = max(1, u·2^20 div w), threshold weight 2^52 div τ_q), so
    the DuckDB oracle replays every selection AND the w_hat estimator
    bit-exactly. Plan: narrow md5 + TakeOrderedAndProject(k+1) — the
    only window runs over the 41 survivors."""
    from metal_history_knowledge_graph_spark.operators.sampling import (
        priority_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("weight")
    )
    out = priority_sample(docs, "weight", 40, "doc_id", seed=0)
    return out.select("doc_id", "weight", "qkey", "w_hat").orderBy("doc_id")


def _priority_sample_oracle(k: int = 40, seed: int = 0) -> str:
    """DuckDB replay of q_priority_sample: same md5 u, same integer
    qkey, same (k+1)-th-smallest threshold and max(w, 2^52 div τ)
    estimator."""
    return f"""
        WITH wr AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
                   CAST(('0x' || substr(md5('prio:{seed}|'
                       || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       AS BIGINT) + 1 AS u
            FROM documents WHERE n_chars > 0
        ), keyed AS (
            SELECT doc_id, w,
                   greatest(CAST(1 AS BIGINT), (u * 1048576) // w) AS qkey
            FROM wr
        ), ranked AS (
            SELECT doc_id, w, qkey,
                   row_number() OVER (ORDER BY qkey, doc_id) AS rn
            FROM keyed
        ), tau AS (
            SELECT 4503599627370496 // qkey AS tau_w
            FROM ranked WHERE rn = {k + 1}
        )
        SELECT doc_id, w AS weight, qkey,
               CAST(greatest(w, coalesce(
                   (SELECT tau_w FROM tau), w)) AS BIGINT) AS w_hat
        FROM ranked WHERE rn <= {k} ORDER BY doc_id
    """


def q_funnel(spark, sf_dir):
    """Ordered funnel over the event log (operators/temporal.
    funnel_steps + funnel_counts): view → click → signup → purchase,
    each step strictly after the user's previous-step completion in
    (ts, event_id) order. Returns the per-user completion table joined
    with the per-step conversion rollup — ts as exact unix micros so
    both engines hash identically. Spark is a chain of 3 equi-joins
    with partial-agg min(struct) anchors (no window over the event
    log); the DuckDB oracle replays each step with a row_number pick.
    """
    from metal_history_knowledge_graph_spark.operators.temporal import (
        funnel_counts,
        funnel_steps,
    )

    ev = _t(spark, sf_dir, "events")
    comp = funnel_steps(ev, ["view", "click", "signup", "purchase"])
    counts = funnel_counts(comp).select("step_no", "n_keys", "conv_permille")
    return (
        comp.join(counts, "step_no")
        .select(
            "step_no",
            "step",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            F.col("event_id").cast("long").alias("event_id"),
            F.col("n_keys").cast("long").alias("step_keys"),
            "conv_permille",
        )
        .orderBy("step_no", "user_id")
    )


def _funnel_oracle(steps=("view", "click", "signup", "purchase")) -> str:
    """DuckDB replay of q_funnel: per step a join to the previous
    anchor + strict (ts, event_id) ordering + row_number()=1 pick."""
    ctes = [
        f"""WITH r1 AS (
            SELECT user_id, ts, event_id FROM (
                SELECT user_id, ts, event_id, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events WHERE event_type = '{steps[0]}'
            ) WHERE rn = 1
        )"""
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"""r{i + 1} AS (
            SELECT user_id, ts, event_id FROM (
                SELECT e.user_id, e.ts, e.event_id, row_number() OVER (
                    PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
                FROM events e JOIN r{i} p ON e.user_id = p.user_id
                WHERE e.event_type = '{steps[i]}'
                  AND (e.ts > p.ts OR (e.ts = p.ts AND e.event_id > p.event_id))
            ) WHERE rn = 1
        )"""
        )
    unions = "\nUNION ALL ".join(
        f"SELECT {i + 1} AS step_no, '{s}' AS step, user_id, ts, event_id "
        f"FROM r{i + 1}"
        for i, s in enumerate(steps)
    )
    ctes.append(f"longf AS ({unions})")
    ctes.append(
        "cnt AS (SELECT step_no, count(*) AS n FROM longf GROUP BY step_no)"
    )
    return (
        ",\n".join(ctes)
        + """
        SELECT l.step_no, l.step, l.user_id,
               epoch_us(l.ts) AS ts_us,
               CAST(l.event_id AS BIGINT) AS event_id,
               CAST(c.n AS BIGINT) AS step_keys,
               CAST(c.n * 1000 // (SELECT n FROM cnt WHERE step_no = 1)
                   AS BIGINT) AS conv_permille
        FROM longf l JOIN cnt c ON l.step_no = c.step_no
        ORDER BY l.step_no, l.user_id
    """
    )


def q_cocitation(spark, sf_dir):
    """Host co-citation similarity (operators/links.cocitation —
    Small-1973 relatedness: hosts are similar when many pages link to
    both). Pages carry three cross-host links (lang hub, cdn, a
    doc_id%7 rotor host), so the pair table exercises real overlap
    structure. The whole chain — href regex extraction, resolution,
    host normalization, pair self-join, capped fanout, integer-‰
    Jaccard over capped degrees — is replayed in DuckDB with the same
    shared HREF_PATTERN. Fanout capped at 3 (the scale guard a hub
    page needs) so the cap path itself is oracle-pinned."""
    from metal_history_knowledge_graph_spark.operators.links import (
        cocitation,
        extract_links,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<a href="http://'), F.col("lang"), F.lit(".example/p/"),
        did, F.lit('">x</a> '),
        F.lit('<a href="//cdn.example/lib.js">z</a> '),
        F.lit('<a href="http://h'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.example/r/'), did, F.lit('">r</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"), did
        ).alias("url"),
        html.alias("html"),
    )
    links = extract_links(pages, url_col="url", html_col="html")
    return (
        cocitation(links, min_common=2, max_fanout=3)
        .orderBy("host_a", "host_b")
    )


def _cocitation_oracle(min_common: int = 2, max_fanout: int = 3) -> str:
    """DuckDB replay of q_cocitation's full chain (same HREF_PATTERN,
    same host regexes, same fanout cap and integer Jaccard)."""
    from metal_history_knowledge_graph_spark.operators.links import (
        HREF_PATTERN,
    )

    pat = HREF_PATTERN.replace("'", "''")
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract({u}, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<a href="http://' || lang || '.example/p/'
                       || CAST(doc_id AS VARCHAR) || '">x</a> '
                   || '<a href="//cdn.example/lib.js">z</a> '
                   || '<a href="http://h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example/r/' || CAST(doc_id AS VARCHAR)
                       || '">r</a>' AS html
            FROM documents
        ), hrefs AS (
            SELECT url, unnest(regexp_extract_all(html, '{pat}', 1)) AS href
            FROM pages
        ), res AS (
            SELECT url, {host.format(u="url")} AS src_host,
                   CASE WHEN href LIKE '//%' THEN 'http:' || href
                        WHEN href LIKE '/%' THEN 'http://'
                             || {host.format(u="url")} || href
                        ELSE href END AS dst_url
            FROM hrefs
        ), it0 AS (
            SELECT DISTINCT url AS k, {host.format(u="dst_url")} AS i
            FROM res
            WHERE {host.format(u="dst_url")} IS NOT NULL
              AND length({host.format(u="dst_url")}) > 0
              AND src_host IS NOT NULL
              AND {host.format(u="dst_url")} <> src_host
        ), it AS (
            SELECT k, i FROM (
                SELECT k, i,
                       row_number() OVER (PARTITION BY k ORDER BY i) AS rn
                FROM it0
            ) WHERE rn <= {max_fanout}
        ), pairs AS (
            SELECT a.i AS host_a, b.i AS host_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM it a JOIN it b ON a.k = b.k AND a.i < b.i
            GROUP BY 1, 2
            HAVING count(*) >= {min_common}
        ), deg AS (
            SELECT i, CAST(count(*) AS BIGINT) AS d FROM it GROUP BY 1
        )
        SELECT p.host_a, p.host_b, p.n_common,
               CAST(p.n_common * 1000 // (da.d + db.d - p.n_common)
                   AS BIGINT) AS jaccard_permille
        FROM pairs p
        JOIN deg da ON p.host_a = da.i
        JOIN deg db ON p.host_b = db.i
        ORDER BY p.host_a, p.host_b
    """


def q_hyperball(spark, sf_dir):
    """HyperBall neighborhood function + effective diameter over the
    planted bow-tie digraph (operators/webgraph.hyperball —
    Boldi–Rosa–Vigna 2011, the all-pairs-distance estimator that
    replaces impossible n² BFS at web scale). Every register update
    and every estimate is a deterministic integer (md5 buckets,
    lowbit ranks, dyadic harmonic sums, α·m² floor-divides), so the
    DuckDB oracle replays the ESTIMATOR bit-exactly against true
    recursive-CTE BFS balls — the HLL trajectory itself is the
    verified object, not a tolerance band."""
    from metal_history_knowledge_graph_spark.operators.webgraph import (
        hyperball,
    )

    e = _scc_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    return hyperball(e, n_iters=8).orderBy("t")


def _hyperball_oracle(n_iters: int = 8, seed: int = 0) -> str:
    """Recursive-CTE replay of q_hyperball: exact BFS balls per t,
    then the same md5 registers, dyadic Z sums, and integer
    estimates."""
    return f"""
        WITH RECURSIVE {_SCC_SQL_CTES},
        hb_v AS (SELECT src AS v FROM scc_e UNION SELECT dst FROM scc_e),
        hb_ball AS (
            SELECT v, v AS u, 0 AS t FROM hb_v
            UNION
            SELECT b.v, e.dst, b.t + 1
            FROM hb_ball b JOIN scc_e e ON b.u = e.src
            WHERE b.t < {n_iters}
        ),
        hb_mind AS (SELECT v, u, min(t) AS d FROM hb_ball GROUP BY v, u),
        hb_h AS (
            SELECT v,
                   CAST(('0x' || substr(md5('hbb:{seed}|'
                       || CAST(v AS VARCHAR)), 1, 8))::UBIGINT % 16
                       AS BIGINT) AS b,
                   CAST(('0x' || substr(md5('hbr:{seed}|'
                       || CAST(v AS VARCHAR)), 1, 15))::UBIGINT
                       AS BIGINT) AS h
            FROM hb_v
        ),
        hb_low AS (
            SELECT v, b,
                   CASE WHEN h = 0 THEN 1152921504606846976
                        ELSE h & (-h) END AS lowbit
            FROM hb_h
        ),
        hb_ts AS (SELECT CAST(range AS INT) AS t FROM range({n_iters} + 1)),
        hb_regs AS (
            SELECT m.v, ts.t, h.b, max(h.lowbit) AS lowbit
            FROM hb_mind m
            JOIN hb_low h ON m.u = h.v
            CROSS JOIN hb_ts ts
            WHERE m.d <= ts.t
            GROUP BY m.v, ts.t, h.b
        ),
        hb_z AS (
            SELECT v, t,
                   (16 - count(*)) * 1099511627776
                   + sum(549755813888 // lowbit) AS znum
            FROM hb_regs GROUP BY v, t
        ),
        hb_est AS (
            SELECT t, CAST((172288 * 1099511627776)
                // greatest(znum, 1) AS BIGINT) AS est
            FROM hb_z
        ),
        hb_nf AS (
            SELECT t, CAST(sum(est) AS BIGINT) AS nf_milli
            FROM hb_est GROUP BY t
        ),
        hb_final AS (SELECT nf_milli AS nft FROM hb_nf WHERE t = {n_iters}),
        hb_grown AS (
            SELECT t, nf_milli,
                   CAST(nf_milli * 1000 // greatest(nft, 1) AS BIGINT)
                       AS growth_permille
            FROM hb_nf CROSS JOIN hb_final
        ),
        hb_eff AS (
            SELECT CAST(min(t) AS INT) AS eff_diameter
            FROM hb_grown WHERE growth_permille >= 900
        )
        SELECT g.t, g.nf_milli, g.growth_permille, e.eff_diameter
        FROM hb_grown g CROSS JOIN hb_eff e ORDER BY g.t
    """


def q_pagerank_inc(spark, sf_dir):
    """Incremental PageRank maintenance (operators/graph_algos.
    pagerank_resume): rank the base graph cold (3 iterations), append
    an edge delta that also introduces 7 brand-new nodes (500..506),
    then re-rank WARM for 2 iterations from the previous vector — the
    nightly-crawl maintenance path where a couple of warm hops replace
    a cold power run. The DuckDB oracle chains BOTH phases (3 cold
    CTE iterations on the base edges, the delta union, node re-count,
    new-node seeding at scale div N', 2 warm iterations) so the whole
    maintenance trajectory is replayed bit-exactly."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        pagerank,
        pagerank_resume,
    )

    base = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    nodes = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % _GRAPH_N).alias("s"))
        .distinct()
    )
    delta = nodes.filter(F.col("s") % 5 == 0).select(
        F.col("s").cast("long").alias("subj_id"),
        (F.lit(_GRAPH_N) + F.col("s") % 7).cast("long").alias("obj_id"),
    )
    prev = pagerank(base, n_iters=3)
    return pagerank_resume(
        base.unionByName(delta), prev, n_iters=2
    ).orderBy("node_id")


def _pagerank_inc_oracle(
    cold_iters: int = 3, warm_iters: int = 2, damping: int = 85,
    scale: int = 10**12,
) -> str:
    """Two-phase chained-CTE replay of q_pagerank_inc."""

    def _iter(k: str, prev: str, nodes: str, params: str, deg: str,
              edges: str) -> str:
        return (
            f"{k} AS (\n"
            f"  SELECT p.node, CAST(\n"
            f"    (({100 - damping} * {scale}) // (100 * {params}.n))\n"
            f"    + ({damping} * coalesce(s.contrib, 0)) // 100\n"
            f"  AS BIGINT) AS r\n"
            f"  FROM {nodes} p CROSS JOIN {params}\n"
            f"  LEFT JOIN (\n"
            f"    SELECT e2.dst AS node,\n"
            f"           CAST(sum({prev}.r // {deg}.outdeg) AS BIGINT)"
            f" AS contrib\n"
            f"    FROM {edges} e2\n"
            f"    JOIN {prev} ON e2.src = {prev}.node\n"
            f"    JOIN {deg} ON e2.src = {deg}.src\n"
            f"    GROUP BY e2.dst\n"
            f"  ) s ON p.node = s.node\n"
            f")"
        )

    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        "pnodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "params AS (SELECT count(*) AS n FROM pnodes)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1)",
        f"b0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS r "
        "FROM pnodes CROSS JOIN params)",
    ]
    for k in range(1, cold_iters + 1):
        ctes.append(_iter(f"b{k}", f"b{k - 1}", "pnodes", "params", "deg",
                          "edges"))
    ctes += [
        f"delta AS (SELECT src, {_GRAPH_N} + src % 7 AS dst "
        "FROM nodes WHERE src % 5 = 0)",
        "edges2 AS (SELECT src, dst FROM edges "
        "UNION SELECT src, dst FROM delta)",
        "pnodes2 AS (SELECT src AS node FROM edges2 "
        "UNION SELECT dst FROM edges2)",
        "params2 AS (SELECT count(*) AS n FROM pnodes2)",
        "deg2 AS (SELECT src, count(*) AS outdeg FROM edges2 GROUP BY 1)",
        f"w0 AS (SELECT p.node, CAST(coalesce(b{cold_iters}.r, "
        f"{scale} // params2.n) AS BIGINT) AS r\n"
        f"  FROM pnodes2 p CROSS JOIN params2\n"
        f"  LEFT JOIN b{cold_iters} ON p.node = b{cold_iters}.node)",
    ]
    for k in range(1, warm_iters + 1):
        ctes.append(_iter(f"w{k}", f"w{k - 1}", "pnodes2", "params2",
                          "deg2", "edges2"))
    return (
        ",\n".join(ctes)
        + f"\nSELECT node AS node_id, r AS rank_fixed FROM w{warm_iters} "
        "ORDER BY node_id"
    )


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k distinct sketch (operators/kmv.py — Beyer et al.
    2007): per-source distinct-vocabulary estimate from the 64 smallest
    56-bit token hashes. The estimator (k−1)·2^56 div h_k is a pure
    BIGINT floor-divide, so DuckDB replays the sketch AND the estimate
    bit-exactly; sub-k groups return their exact count (flagged)."""
    from metal_history_knowledge_graph_spark.operators.kmv import (
        kmv_distinct,
        kmv_sketch,
    )
    from metal_history_knowledge_graph_spark.operators.textstats import _tokens

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        "source", F.explode(_tokens(F.col("text"))).alias("term")
    )
    sk = kmv_sketch(items, "source", "term", k=64)
    return kmv_distinct(sk, 64).orderBy("grp")


def q_kmv_jaccard(spark, sf_dir):
    """Pairwise vocabulary overlap between sources from their KMV
    sketches alone (operators/kmv.kmv_jaccard — coordinated bottom-k:
    bottom-64 of the merged hash set, shared-membership count, integer
    ‰) — the set-overlap estimate HLL cannot provide, at sketch cost
    instead of a universe shuffle."""
    from metal_history_knowledge_graph_spark.operators.kmv import (
        kmv_jaccard,
        kmv_sketch,
    )
    from metal_history_knowledge_graph_spark.operators.textstats import _tokens

    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        "source", F.explode(_tokens(F.col("text"))).alias("term")
    )
    sk = kmv_sketch(items, "source", "term", k=64)
    return kmv_jaccard(sk, 64).orderBy("grp_a", "grp_b")


_KMV_SKETCH_SQL = r"""
        tok AS (
            SELECT source AS grp,
                   unnest(list_filter(regexp_split_to_array(
                       lower(trim(text)), '\s+'), x -> length(x) > 0))
                       AS term
            FROM documents
        ),
        hs AS (
            SELECT DISTINCT grp,
                   CAST(('0x' || substr(md5('kmv:0|' || term), 1, 14))
                       ::UBIGINT AS BIGINT) AS h
            FROM tok
        ),
        sk AS (
            SELECT grp, h, rn FROM (
                SELECT grp, h,
                       row_number() OVER (PARTITION BY grp ORDER BY h)
                           AS rn
                FROM hs
            ) WHERE rn <= 64
        )
"""


def _kmv_distinct_oracle(k: int = 64) -> str:
    return f"""
        WITH {_KMV_SKETCH_SQL},
        agg AS (
            SELECT grp, count(*) AS n,
                   max(CASE WHEN rn = {k} THEN h END) AS hk
            FROM sk GROUP BY grp
        )
        SELECT grp,
               CAST(CASE WHEN n < {k} THEN n
                    ELSE ({k} - 1) * {1 << 56} // greatest(hk, 1)
                    END AS BIGINT) AS n_distinct_est,
               n < {k} AS exact
        FROM agg ORDER BY grp
    """


def _kmv_jaccard_oracle(k: int = 64) -> str:
    return f"""
        WITH {_KMV_SKETCH_SQL},
        kpairs AS (
            SELECT DISTINCT a.grp AS ga, b.grp AS gb
            FROM sk a JOIN sk b ON a.h = b.h AND a.grp < b.grp
        ),
        uni AS (
            SELECT ga, gb, h, max(in_a) AS in_a, max(in_b) AS in_b
            FROM (
                SELECT p.ga, p.gb, s.h, 1 AS in_a, 0 AS in_b
                FROM kpairs p JOIN sk s ON s.grp = p.ga
                UNION ALL
                SELECT p.ga, p.gb, s.h, 0, 1
                FROM kpairs p JOIN sk s ON s.grp = p.gb
            ) GROUP BY ga, gb, h
        ),
        cut AS (
            SELECT * FROM (
                SELECT ga, gb, h, in_a, in_b,
                       row_number() OVER (PARTITION BY ga, gb ORDER BY h)
                           AS rn
                FROM uni
            ) WHERE rn <= {k}
        ),
        o AS (
            SELECT ga, gb,
                   sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                       AS shared_in_cut,
                   count(*) AS cut_size
            FROM cut GROUP BY ga, gb
        )
        SELECT ga AS grp_a, gb AS grp_b,
               CAST(shared_in_cut AS BIGINT) AS shared_in_cut,
               CAST(cut_size AS BIGINT) AS cut_size,
               CAST(shared_in_cut * 1000 // cut_size AS BIGINT)
                   AS jaccard_permille
        FROM o WHERE shared_in_cut >= 1
        ORDER BY grp_a, grp_b
    """


def q_qdigest(spark, sf_dir):
    """Q-digest quantile sketch over documents.n_chars (operators/
    qdigest.qdigest_build — Shrivastava 2004, the MERGEABLE quantile
    summary GK/KLL/t-digest can't be because they're insertion-order-
    dependent): leaf histogram at 12 bits, synchronous leaf→root
    compression at threshold n div 32. The digest is a pure function
    of the value histogram, so the DuckDB oracle replays all 12
    compression levels as chained CTEs and must match node-for-node.
    """
    from metal_history_knowledge_graph_spark.operators.qdigest import (
        qdigest_build,
    )

    docs = _t(spark, sf_dir, "documents")
    d = qdigest_build(docs, "n_chars", bits=_QD_BITS, k=_QD_K)
    return d.select(
        F.col("nid").cast("long").alias("nid"),
        F.col("lvl").cast("int").alias("lvl"),
        F.col("cnt").cast("long").alias("cnt"),
    ).orderBy("nid")


def q_qdigest_quantiles(spark, sf_dir):
    """Quantile answers read off the q-digest (operators/qdigest.
    qdigest_quantiles): p25/p50/p90/p99 of n_chars as the hi endpoint
    of the first digest node whose running count reaches ceil(q·n) —
    rank error ≤ bits·n div k by the q-digest bound, every step
    integer, the extraction window bounded by digest size."""
    from metal_history_knowledge_graph_spark.operators.qdigest import (
        qdigest_build,
        qdigest_quantiles,
    )

    docs = _t(spark, sf_dir, "documents")
    d = qdigest_build(docs, "n_chars", bits=_QD_BITS, k=_QD_K)
    return qdigest_quantiles(d, _QD_BITS, [250, 500, 900, 990]).orderBy(
        "q_permille"
    )


_QD_BITS, _QD_K = 12, 32


def _qdigest_sql(bits: int = _QD_BITS, k: int = _QD_K) -> str:
    """Chained-CTE q-digest build over documents.n_chars: one merge
    CTE + one level CTE per tree level, thresh from a scalar CTE."""
    top = (1 << bits) - 1
    ctes = [
        f"""qd_vals AS MATERIALIZED (
            SELECT {1 << bits} + least(CAST(n_chars AS BIGINT), {top})
                AS nid
            FROM documents
        )""",
        f"qd_thr AS MATERIALIZED (SELECT count(*) // {k} AS thr FROM qd_vals)",
        f"t{bits} AS MATERIALIZED (SELECT nid, {bits} AS lvl, "
        "CAST(count(*) AS BIGINT) AS cnt FROM qd_vals GROUP BY nid)",
    ]
    for l in range(bits, 0, -1):
        ctes.append(
            f"""m{l} AS MATERIALIZED (
            SELECT nid // 2 AS p, CAST(sum(cnt) AS BIGINT) AS cs
            FROM t{l} WHERE lvl = {l} GROUP BY 1
        )"""
        )
        ctes.append(
            f"""t{l - 1} AS MATERIALIZED (
            SELECT nid, lvl, cnt FROM t{l} WHERE lvl <> {l}
            UNION ALL
            SELECT c.nid, c.lvl, c.cnt
            FROM t{l} c JOIN m{l} ON c.nid // 2 = m{l}.p
            CROSS JOIN qd_thr
            WHERE c.lvl = {l} AND m{l}.cs > qd_thr.thr
            UNION ALL
            SELECT p AS nid, {l - 1} AS lvl, cs AS cnt
            FROM m{l} CROSS JOIN qd_thr
            WHERE cs <= qd_thr.thr AND cs > 0
        )"""
        )
    return ",\n".join(ctes)


def _qdigest_oracle() -> str:
    return (
        f"WITH {_qdigest_sql()}\n"
        "SELECT CAST(nid AS BIGINT) AS nid, CAST(lvl AS INT) AS lvl, "
        "cnt FROM t0 ORDER BY nid"
    )


def _qdigest_quantiles_oracle(bits: int = _QD_BITS) -> str:
    return f"""
        WITH {_qdigest_sql()},
        qd_hi AS (
            SELECT nid, lvl, cnt,
                   (nid - (1::BIGINT << lvl)) * (1::BIGINT << ({bits} - lvl))
                   + (1::BIGINT << ({bits} - lvl)) - 1 AS hi
            FROM t0
        ),
        qd_run AS (
            SELECT hi, cnt,
                   sum(cnt) OVER (ORDER BY hi, lvl DESC, nid
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS run
            FROM qd_hi
        ),
        qd_n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM qd_hi),
        qd_q AS (SELECT unnest([250, 500, 900, 990]) AS q_permille),
        qd_t AS (
            SELECT q_permille, (q_permille * n + 999) // 1000 AS tgt, n
            FROM qd_q CROSS JOIN qd_n
        )
        SELECT CAST(t.q_permille AS BIGINT) AS q_permille,
               CAST(min(r.hi) AS BIGINT) AS value,
               CAST(t.n AS BIGINT) AS n_total
        FROM qd_t t JOIN qd_run r ON r.run >= t.tgt
        GROUP BY t.q_permille, t.n
        ORDER BY q_permille
    """


def q_densest(spark, sf_dir):
    """Densest-subgraph extraction by Bahmani–Kumar–Vassilvitskii
    synchronous (1+ε) peeling (operators/graph_algos.densest_subgraph
    — VLDB 2012, the canonical MapReduce graph-mining algorithm): a
    20-node clique planted into the sparse derived digraph must be
    recovered as the max-density snapshot. Every peel round is integer
    (thr = 2m·1500 div 1000n), so the DuckDB oracle replays the whole
    trajectory — per-round edge restriction, degree tables, thresholds
    and the best-round election — as chained MATERIALIZED CTEs."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        densest_subgraph,
    )

    base = _derived_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    nn = (
        _t(spark, sf_dir, "orders")
        .select((F.col("o_orderkey") % _GRAPH_N).alias("s"))
        .distinct()
        .filter(F.col("s") < 20)
    )
    clique = (
        nn.alias("x")
        .join(nn.alias("y"), F.col("x.s") < F.col("y.s"))
        .select(
            F.col("x.s").cast("long").alias("subj_id"),
            F.col("y.s").cast("long").alias("obj_id"),
        )
    )
    return densest_subgraph(
        base.unionByName(clique), eps_permille=500, max_rounds=24
    ).orderBy("node_id")


def _densest_oracle(rounds: int = 24, eps_pm: int = 500) -> str:
    """Chained-CTE replay of q_densest's full peel trajectory."""
    ctes = [
        f"WITH {_DERIVED_EDGES_SQL}",
        """ds_e0 AS MATERIALIZED (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM (
                SELECT src, dst FROM edges
                UNION ALL
                SELECT n1.src, n2.src FROM nodes n1 JOIN nodes n2
                ON n1.src < n2.src AND n1.src < 20 AND n2.src < 20
            ) WHERE src <> dst
        )""",
    ]
    for r in range(rounds):
        if r > 0:
            ctes.append(
                f"""ds_e{r} AS MATERIALIZED (
                SELECT e.a, e.b FROM ds_e{r - 1} e
                JOIN ds_k{r - 1} ka ON e.a = ka.v
                JOIN ds_k{r - 1} kb ON e.b = kb.v
            )"""
            )
        ctes += [
            f"ds_s{r} AS MATERIALIZED (SELECT count(*) AS m FROM ds_e{r})",
            f"""ds_d{r} AS MATERIALIZED (
                SELECT v, count(*) AS deg FROM (
                    SELECT a AS v FROM ds_e{r}
                    UNION ALL SELECT b FROM ds_e{r}
                ) GROUP BY v
            )""",
            f"ds_n{r} AS MATERIALIZED (SELECT count(*) AS n FROM ds_d{r})",
            f"""ds_k{r} AS MATERIALIZED (
                SELECT v FROM ds_d{r} CROSS JOIN ds_s{r} CROSS JOIN ds_n{r}
                WHERE deg > (2 * m * (1000 + {eps_pm})) // (1000 * n)
            )""",
        ]
    stats = "\nUNION ALL ".join(
        f"SELECT {r} AS r, m, n FROM ds_s{r} CROSS JOIN ds_n{r} WHERE m > 0"
        for r in range(rounds)
    )
    snaps = "\nUNION ALL ".join(
        f"SELECT v, {r} AS r FROM ds_d{r}" for r in range(rounds)
    )
    ctes += [
        f"ds_stats AS ({stats})",
        "ds_best AS (SELECT r, (1000 * m) // n AS density_milli, n, m "
        "FROM ds_stats ORDER BY (1000 * m) // n DESC, r LIMIT 1)",
        f"ds_snaps AS ({snaps})",
    ]
    return (
        ",\n".join(ctes)
        + """
        SELECT CAST(s.v AS BIGINT) AS node_id,
               CAST(b.r AS INT) AS best_round,
               CAST(b.density_milli AS BIGINT) AS density_milli,
               CAST(b.n AS BIGINT) AS n_nodes,
               CAST(b.m AS BIGINT) AS m_edges
        FROM ds_snaps s JOIN ds_best b ON s.r = b.r
        ORDER BY node_id
    """
    )


def q_butterflies(spark, sf_dir):
    """Bipartite butterfly census of the synthetic page→host link
    graph (operators/links.butterfly_stats): pages sharing the same
    two hosts form 2×2 bicliques — the link-farm/template-network
    motif. Reuses q_cocitation's synthetic 3-link pages; the DuckDB
    oracle replays href extraction → wedge grouping → C(c,2) sums."""
    from metal_history_knowledge_graph_spark.operators.links import (
        butterfly_stats,
        extract_links,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<a href="http://'), F.col("lang"), F.lit(".example/p/"),
        did, F.lit('">x</a> '),
        F.lit('<a href="//cdn.example/lib.js">z</a> '),
        F.lit('<a href="http://h'), (F.col("doc_id") % 7).cast("string"),
        F.lit('.example/r/'), did, F.lit('">r</a>'),
    )
    pages = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"), did
        ).alias("url"),
        html.alias("html"),
    )
    links = extract_links(pages, url_col="url", html_col="html")
    return butterfly_stats(links, max_fanout=64)


def _butterflies_oracle(max_fanout: int = 64) -> str:
    from metal_history_knowledge_graph_spark.operators.links import (
        HREF_PATTERN,
    )

    pat = HREF_PATTERN.replace("'", "''")
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract({u}, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH pages AS (
            SELECT 'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS url,
                   '<a href="http://' || lang || '.example/p/'
                       || CAST(doc_id AS VARCHAR) || '">x</a> '
                   || '<a href="//cdn.example/lib.js">z</a> '
                   || '<a href="http://h' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example/r/' || CAST(doc_id AS VARCHAR)
                       || '">r</a>' AS html
            FROM documents
        ), hrefs AS (
            SELECT url, unnest(regexp_extract_all(html, '{pat}', 1)) AS href
            FROM pages
        ), res AS (
            SELECT url, {host.format(u="url")} AS src_host,
                   CASE WHEN href LIKE '//%' THEN 'http:' || href
                        WHEN href LIKE '/%' THEN 'http://'
                             || {host.format(u="url")} || href
                        ELSE href END AS dst_url
            FROM hrefs
        ), it0 AS (
            SELECT DISTINCT {host.format(u="dst_url")} AS k, url AS i
            FROM res
            WHERE {host.format(u="dst_url")} IS NOT NULL
              AND length({host.format(u="dst_url")}) > 0
              AND src_host IS NOT NULL
              AND {host.format(u="dst_url")} <> src_host
        ), it AS (
            SELECT k, i FROM (
                SELECT k, i,
                       row_number() OVER (PARTITION BY k ORDER BY i) AS rn
                FROM it0
            ) WHERE rn <= {max_fanout}
        ), bpairs AS (
            SELECT a.i AS pa, b.i AS pb, count(*) AS c
            FROM it a JOIN it b ON a.k = b.k AND a.i < b.i
            GROUP BY 1, 2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_page_pairs,
               CAST(sum(c) AS BIGINT) AS n_wedges,
               CAST(sum(c * (c - 1) // 2) AS BIGINT) AS n_butterflies
        FROM bpairs
    """


def q_decayed_counts(spark, sf_dir):
    """Exponentially time-decayed activity counts (operators/temporal.
    decayed_counts — the recrawl-freshness signal): per event type,
    events weighted 2^-((T−bucket) div 7) in 2^30 fixed-point units,
    decay quantized to whole half-life periods so every weight is
    dyadic and the DuckDB oracle replays the aggregate exactly. One
    narrow bucket projection + one partial-agg groupBy."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        decayed_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return decayed_counts(
        ev, key_col="event_type", bucket_hours=24, half_life_buckets=7
    ).orderBy("key")


def _decayed_counts_oracle(
    bucket_us: int = 86_400_000_000, hl: int = 7, fb: int = 30
) -> str:
    return f"""
        WITH dk AS (
            SELECT event_type AS key,
                   epoch_us(ts) // {bucket_us} AS b
            FROM events
        ), dmx AS (SELECT max(b) AS T FROM dk),
        dw AS (
            SELECT key, b,
                   CASE WHEN greatest(0, (T - b) // {hl}) > {fb} THEN 0
                        ELSE (1::BIGINT <<
                            ({fb} - greatest(0, (T - b) // {hl})))
                   END AS w
            FROM dk CROSS JOIN dmx
        )
        SELECT key, CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(w) AS BIGINT) AS decayed_fixed,
               CAST(max(b) AS BIGINT) AS last_bucket
        FROM dw GROUP BY key ORDER BY key
    """


def q_domain_groups(spark, sf_dir):
    """eTLD+1 registrable-domain rollup (operators/urlnorm.
    registrable_domain + domain_groups): synthetic urls rotate through
    .com / .co.uk / .org / .gov.uk / IPv4 authorities with varied
    subdomains, and per-domain url+host counts must group
    shop.example.co.uk with example.co.uk — the key crawl budgets use.
    The DuckDB oracle replays host extraction, the shared
    public-suffix list, label slicing and the rollup exactly."""
    from metal_history_knowledge_graph_spark.operators.urlnorm import (
        domain_groups,
    )

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base = F.element_at(
        F.array(
            F.lit("example.com"), F.lit("example.co.uk"), F.lit("foo.org"),
            F.lit("bar.gov.uk"), F.lit("10.0.0.1"),
        ),
        (did % 5 + 1).cast("int"),
    )
    sub = F.when(
        did % 5 == 4, F.lit("")  # IPs get no subdomain
    ).otherwise(F.concat(F.lit("w"), (did % 13).cast("string"), F.lit(".")))
    urls = docs.select(
        F.concat(
            F.lit("http://"), sub, base, F.lit("/p/"), did.cast("string")
        ).alias("url")
    )
    return domain_groups(urls).orderBy("domain")


def _domain_groups_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.urlnorm import (
        PUBLIC_SUFFIXES_2,
    )

    ps = ", ".join(f"'{s}'" for s in PUBLIC_SUFFIXES_2)
    host = (
        "lower(regexp_replace(regexp_replace(regexp_extract(url, "
        "'^[hH][tT][tT][pP][sS]?://([^/?#]+)', 1), '^.*@', ''), "
        "':\\d+$', ''))"
    )
    return f"""
        WITH du AS (
            SELECT 'http://'
                   || CASE WHEN doc_id % 5 = 4 THEN ''
                      ELSE 'w' || CAST(doc_id % 13 AS VARCHAR) || '.' END
                   || CASE doc_id % 5
                        WHEN 0 THEN 'example.com'
                        WHEN 1 THEN 'example.co.uk'
                        WHEN 2 THEN 'foo.org'
                        WHEN 3 THEN 'bar.gov.uk'
                        ELSE '10.0.0.1' END
                   || '/p/' || CAST(doc_id AS VARCHAR) AS url
            FROM documents
        ), dh AS (
            SELECT {host} AS h FROM du
            WHERE {host} IS NOT NULL AND length({host}) > 0
        ), dd AS (
            SELECT h,
                   CASE
                     WHEN regexp_matches(h,
                         '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}$')
                         THEN h
                     WHEN len(string_split(h, '.')) <= 1 THEN h
                     WHEN array_to_string(string_split(h, '.')[
                              len(string_split(h, '.')) - 1 :], '.')
                          IN ({ps})
                          AND len(string_split(h, '.')) >= 3
                         THEN array_to_string(string_split(h, '.')[
                              len(string_split(h, '.')) - 2 :], '.')
                     WHEN len(string_split(h, '.')) >= 2
                         THEN array_to_string(string_split(h, '.')[
                              len(string_split(h, '.')) - 1 :], '.')
                     ELSE h
                   END AS domain
            FROM dh
        )
        SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT h) AS BIGINT) AS n_hosts
        FROM dd GROUP BY domain ORDER BY domain
    """


def q_modularity(spark, sf_dir):
    """Exact integer Newman modularity (graph_algos.modularity_4m2 —
    Q·4m² = Σ_c [4·m·m_c − D_c²], denominators cleared so community
    quality is a BIGINT, never a float summation lottery) of the LPA
    communities over the planted 20-block circulant graph. The DuckDB
    oracle chains the full 8-round LPA replay AND the modularity
    arithmetic — assignment and score verified together."""
    from metal_history_knowledge_graph_spark.operators.graph_algos import (
        label_propagation,
        modularity_4m2,
    )

    e = _lpa_edges(spark, sf_dir).select(
        F.col("src").alias("subj_id"), F.col("dst").alias("obj_id")
    )
    assign = label_propagation(e, n_rounds=8)
    return modularity_4m2(e, assign)


def _modularity_oracle(n_rounds: int = 8) -> str:
    """LPA replay (shared CTE chain) + cleared-denominator modularity."""
    lpa = _lpa_oracle(n_rounds)
    ctes = lpa[: lpa.rindex("\nSELECT")]
    return (
        ctes
        + f""",
        mq_und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM lpa_e WHERE src <> dst
        ),
        mq_tag AS (
            SELECT u.a, u.b, la.lab AS ca, lb.lab AS cb
            FROM mq_und u
            JOIN l{n_rounds} la ON u.a = la.node
            JOIN l{n_rounds} lb ON u.b = lb.node
        ),
        mq_m AS (SELECT count(*) AS m FROM mq_tag),
        mq_intra AS (
            SELECT ca AS c, count(*) AS mc FROM mq_tag
            WHERE ca = cb GROUP BY ca
        ),
        mq_deg AS (
            SELECT c, CAST(sum(d) AS BIGINT) AS dc FROM (
                SELECT v, c, count(*) AS d FROM (
                    SELECT a AS v, ca AS c FROM mq_tag
                    UNION ALL SELECT b, cb FROM mq_tag
                ) GROUP BY v, c
            ) GROUP BY c
        ),
        mq_terms AS (
            SELECT d.c,
                   4 * mq_m.m * coalesce(i.mc, 0) - d.dc * d.dc AS term
            FROM mq_deg d LEFT JOIN mq_intra i ON d.c = i.c
            CROSS JOIN mq_m
        )
        SELECT CAST(sum(term) AS BIGINT) AS q_4m2,
               CAST((SELECT m FROM mq_m) AS BIGINT) AS m_edges,
               CAST(count(*) AS BIGINT) AS n_communities
        FROM mq_terms
    """
    )


def q_winnow(spark, sf_dir):
    """Winnowing fingerprints (operators/winnow.py — Schleimer et al.
    2003 rightmost-min selection, MOSS): the full (doc_id, pos, fp)
    selection set at k=8, w=12 over documents doc_id < 150. The
    DuckDB oracle replays gram hashing, per-window minima, and the
    rightmost tie-break relationally (range join + two GROUP BYs) —
    bit-exact because both engines hash via md5-hex→BIGINT."""
    from metal_history_knowledge_graph_spark.operators.winnow import (
        winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return winnow_fingerprints(docs, k=8, w=12).orderBy("doc_id", "pos", "fp")


def q_winnow_pairs(spark, sf_dir):
    """MOSS candidate pairs over the whole documents table: docs
    ranked by shared winnowing-fingerprint values (k=8, w=12,
    min_shared=2) with the max_df=50 stop-fingerprint cap applied
    before the inverted-index self-join."""
    from metal_history_knowledge_graph_spark.operators.winnow import (
        winnow_candidate_pairs,
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(_t(spark, sf_dir, "documents"), k=8, w=12)
    return winnow_candidate_pairs(fps, min_shared=2, max_df=50).orderBy(
        "doc_a", "doc_b"
    )


def q_winnow_probe(spark, sf_dir):
    """Incremental winnow-index probe (operators/winnow.winnow_probe):
    docs ≥ 400 arrive as a new batch against the < 400 index; output
    is every candidate pair touching a new doc, decision-identical to
    a full rebuild (pytest-pinned). The oracle computes the rebuilt
    union's pairs restricted to new docs — the cap recomputed over
    union document frequencies, exactly the probe's contract."""
    from metal_history_knowledge_graph_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_probe,
    )

    docs = _t(spark, sf_dir, "documents")
    idx = winnow_fingerprints(docs.filter(F.col("doc_id") < 400), k=8, w=12)
    nfp = winnow_fingerprints(docs.filter(F.col("doc_id") >= 400), k=8, w=12)
    return winnow_probe(idx, nfp, min_shared=2, max_df=50).orderBy(
        "doc_a", "doc_b"
    )


def _winnow_probe_oracle() -> str:
    return (
        _winnow_cte("TRUE")
        + """
        , fpd AS (SELECT DISTINCT doc_id, fp FROM all_fps),
        kept AS (
            SELECT doc_id, fp FROM fpd
            WHERE fp NOT IN (
                SELECT fp FROM fpd GROUP BY fp HAVING count(*) > 50
            )
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.doc_id >= 400 OR b.doc_id >= 400
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
        ORDER BY doc_a, doc_b
    """
    )


def _winnow_cte(doc_pred: str, k: int = 8, w: int = 12) -> str:
    """Shared winnowing replay CTE chain (normalize → gram hashes →
    window minima → rightmost position → distinct, plus the short-doc
    whole-string fingerprint), parameterized by a document predicate.
    Ends with an ``all_fps(doc_id, pos, fp)`` CTE."""
    return f"""
        WITH d AS (
            SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
            FROM documents WHERE text IS NOT NULL AND {doc_pred}
        ), g AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   CAST(('0x' || substr(md5('win:'
                       || substr(norm, CAST(i AS INT), {k})), 1, 15))::UBIGINT
                       AS BIGINT) AS h
            FROM d, UNNEST(generate_series(1, length(norm) - {k - 1})) AS t(i)
            WHERE length(norm) >= {k}
        ), ng AS (
            SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
        ), starts AS (
            SELECT ng.doc_id, CAST(j AS INT) AS j
            FROM ng, UNNEST(generate_series(1, greatest(1, n - {w - 1}))) AS s(j)
        ), wins AS (
            SELECT s.doc_id, s.j, min(g.h) AS mh
            FROM starts s JOIN g ON g.doc_id = s.doc_id
                          AND g.pos BETWEEN s.j AND s.j + {w - 1}
            GROUP BY s.doc_id, s.j
        ), sel AS (
            SELECT w.doc_id, max(g.pos) AS pos, w.mh AS fp
            FROM wins w JOIN g ON g.doc_id = w.doc_id
                        AND g.pos BETWEEN w.j AND w.j + {w - 1}
                        AND g.h = w.mh
            GROUP BY w.doc_id, w.j, w.mh
        ), all_fps AS (
            SELECT DISTINCT doc_id, pos, fp FROM sel
            UNION ALL
            SELECT doc_id, CAST(1 AS INT) AS pos,
                   CAST(('0x' || substr(md5('win:' || norm), 1, 15))::UBIGINT
                       AS BIGINT) AS fp
            FROM d WHERE length(norm) BETWEEN 1 AND {k - 1}
        )
    """


def q_suffix_ranks(spark, sf_dir):
    """Generalized suffix array by distributed prefix doubling
    (operators/suffix.py — Larsson–Sadakane over DataFrame joins):
    dense 0-based rank of every suffix of docs doc_id < 80 (texts
    truncated to 120 chars to bound the position count), equal suffix
    strings across documents sharing a rank. The DuckDB oracle is the
    definition itself: dense_rank() over the literal suffix strings —
    both engines compare strings in UTF-8 binary order."""
    from metal_history_knowledge_graph_spark.operators.suffix import suffix_ranks

    return suffix_ranks(_suffix_docs(spark, sf_dir)).orderBy("doc_id", "pos")


def q_suffix_array(spark, sf_dir):
    """The suffix-array total-order view (operators/suffix.py
    suffix_array): position sa_rank in global suffix order holds
    suffix (doc_id, pos); duplicate suffix strings tie-broken by
    (doc_id, pos). Oracle: row_number() over (suffix, doc_id, pos)."""
    from metal_history_knowledge_graph_spark.operators.suffix import suffix_array

    return suffix_array(_suffix_docs(spark, sf_dir)).orderBy("sa_rank")


_MARKOV_TRANS_CTE = """
        trans AS (
            SELECT s1, s2, CAST(count(*) AS BIGINT) AS n,
                   CAST(count(*) * 1000000 //
                        sum(count(*)) OVER (PARTITION BY s1) AS BIGINT)
                       AS p_micro
            FROM (
                SELECT event_type AS s1,
                       lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS s2
                FROM events
                WHERE user_id IS NOT NULL AND ts IS NOT NULL
                      AND event_type IS NOT NULL
            ) WHERE s2 IS NOT NULL
            GROUP BY s1, s2
        )
"""


def q_markov_trans(spark, sf_dir):
    """First-order Markov transition table over per-user event
    streams (operators/markov.transition_matrix): consecutive
    (state → state) counts in (ts, event_id) order with integer
    micro-probabilities. Oracle replays the user-partitioned lead,
    counts and the row-normalizing floor divide."""
    from metal_history_knowledge_graph_spark.operators.markov import (
        transition_matrix,
    )

    return transition_matrix(_t(spark, sf_dir, "events")).orderBy("s1", "s2")


def q_markov_mass(spark, sf_dir):
    """3-step Markov mass propagation (operators/markov.markov_k_step)
    from the lexicographically-first event type, per-term floored
    BIGINT arithmetic (mass leaks ≤ 1 micro per term per step,
    deterministically). Oracle chains three propagation CTEs over the
    replayed transition table — the pagerank-replay idiom."""
    from metal_history_knowledge_graph_spark.operators.markov import (
        markov_k_step,
        transition_matrix,
    )

    ev = _t(spark, sf_dir, "events")
    trans = transition_matrix(ev)
    start = ev.agg(F.min("event_type")).collect()[0][0]
    return markov_k_step(trans, start, k=3).orderBy("state")


def _markov_trans_oracle() -> str:
    return (
        "WITH "
        + _MARKOV_TRANS_CTE
        + """
        SELECT s1, s2, n, p_micro FROM trans ORDER BY s1, s2
    """
    )


def _markov_mass_oracle() -> str:
    steps = []
    for i in range(1, 4):
        steps.append(f"""
        , m{i} AS (
            SELECT t.s2 AS state,
                   CAST(sum((m.mass_micro * t.p_micro) // 1000000)
                        AS BIGINT) AS mass_micro
            FROM m{i - 1} m JOIN trans t ON t.s1 = m.state
            GROUP BY t.s2
            HAVING sum((m.mass_micro * t.p_micro) // 1000000) > 0
        )""")
    return (
        "WITH "
        + _MARKOV_TRANS_CTE
        + """
        , m0 AS (
            SELECT (SELECT min(event_type) FROM events) AS state,
                   CAST(1000000 AS BIGINT) AS mass_micro
        )"""
        + "".join(steps)
        + """
        SELECT state, mass_micro FROM m3 ORDER BY state
    """
    )


def q_rbo(spark, sf_dir):
    """Rank-biased overlap@10 (search_quality.rbo_overlap — Webber et
    al. 2010, the ranking-drift monitor between engine versions) over
    two deterministic md5 pseudo-rankings of a 50-doc pool for 20
    queries (inputs arbitrary BY DESIGN; the metric arithmetic is
    what's under test). The oracle replays both rankings, the
    first-common-depth max(rank) trick and the pinned suffix-weight
    join."""
    from pyspark.sql.window import Window

    from metal_history_knowledge_graph_spark.operators.search_quality import (
        rbo_overlap,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    qs = docs.select((F.col("doc_id") % 20).alias("query_id")).distinct()
    cand = qs.crossJoin(docs.select("doc_id"))

    def _ranked(salt):
        pr = F.md5(
            F.concat(
                F.lit(salt),
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        )
        return cand.withColumn("_pr", pr).withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("_pr")
            ),
        ).filter(F.col("rank") <= 10)

    return rbo_overlap(
        _ranked("ra:"), _ranked("rb:"), k=10, p_milli=900, id_col="doc_id"
    ).orderBy("query_id")


def _rbo_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.search_quality import (
        rbo_suffix_weights_ppb,
    )

    vals = ", ".join(f"({m}, {w})" for m, w in rbo_suffix_weights_ppb(10, 900))
    return f"""
        WITH docs AS (
            SELECT doc_id FROM documents WHERE doc_id < 50
        ), qs AS (
            SELECT DISTINCT doc_id % 20 AS query_id FROM docs
        ), cand AS (
            SELECT q.query_id, d.doc_id FROM qs q, docs d
        ), ra AS (
            SELECT * FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                           md5('ra:' || query_id || ':' || doc_id)) AS r
                FROM cand
            ) WHERE r <= 10
        ), rb AS (
            SELECT * FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id ORDER BY
                           md5('rb:' || query_id || ':' || doc_id)) AS r
                FROM cand
            ) WHERE r <= 10
        ), wts(m, w) AS (VALUES {vals}),
        common AS (
            SELECT a.query_id,
                   CAST(count(*) AS BIGINT) AS n_common,
                   CAST(sum(w.w) AS BIGINT) AS rbo_ppb
            FROM ra a
            JOIN rb b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
            JOIN wts w ON w.m = greatest(a.r, b.r)
            GROUP BY a.query_id
        )
        SELECT q.query_id,
               CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
               CAST(coalesce(c.rbo_ppb, 0) AS BIGINT) AS rbo_ppb
        FROM qs q LEFT JOIN common c USING (query_id)
        ORDER BY q.query_id
    """


def q_cohorts(spark, sf_dir):
    """Cohort retention matrix (temporal.cohort_retention) over the
    event log: weekly buckets (days-since-2024-01-01 div 7), cohort =
    first active week, per-cell active counts and integer-ppm
    retention. Oracle replays cohorts, cells and the ppm divide."""
    from metal_history_knowledge_graph_spark.operators.temporal import (
        cohort_retention,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "bucket",
        (
            F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
            / 7
        ).cast("int"),
    )
    return cohort_retention(ev).orderBy("cohort", "bucket")


def _cohorts_oracle() -> str:
    return """
        WITH act AS (
            SELECT DISTINCT user_id AS u,
                   CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7
                        AS BIGINT) AS bucket
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        ), cohorts AS (
            SELECT u, min(bucket) AS cohort FROM act GROUP BY u
        ), sizes AS (
            SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
            FROM cohorts GROUP BY cohort
        ), cells AS (
            SELECT c.cohort, a.bucket, CAST(count(*) AS BIGINT) AS n_active
            FROM act a JOIN cohorts c USING (u)
            GROUP BY c.cohort, a.bucket
        )
        SELECT cells.cohort, cells.bucket, sizes.cohort_size,
               cells.n_active,
               CAST(cells.n_active * 1000000 // sizes.cohort_size
                    AS BIGINT) AS retention_ppm
        FROM cells JOIN sizes USING (cohort)
        ORDER BY cells.cohort, cells.bucket
    """


def q_waterfill(spark, sf_dir):
    """Proportional-fair crawl-budget allocation by water-filling
    (operators/waterfill.py): per-source demand = 3× doc count,
    weight = (len(source) mod 4)+1, global budget 700 (< total
    demand, so the bisection path runs). The DuckDB oracle replays
    the IDENTICAL integer (lo, hi) bisection trajectory with a
    recursive CTE and the same allocation/leftover arithmetic."""
    from metal_history_knowledge_graph_spark.operators.waterfill import (
        waterfill_budget,
    )

    hosts = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("source").isNotNull())
        .groupBy(F.col("source").alias("host"))
        .agg((F.count(F.lit(1)) * 3).cast("long").alias("demand"))
        .withColumn(
            "weight", (F.length("host") % 4 + 1).cast("long")
        )
    )
    return waterfill_budget(hosts, 700).orderBy("host")


def _waterfill_oracle(budget: int = 700) -> str:
    return f"""
        WITH RECURSIVE hosts AS (
            SELECT source AS host, CAST(count(*) * 3 AS BIGINT) AS d,
                   CAST(length(source) % 4 + 1 AS BIGINT) AS w
            FROM documents WHERE source IS NOT NULL GROUP BY source
        ), caps AS (
            SELECT CAST(coalesce(max((d * 1000000 + w - 1) // w), 0) + 1
                        AS BIGINT) AS cap,
                   CAST(coalesce(sum(d), 0) AS BIGINT) AS td
            FROM hosts
        ), bs(lo, hi) AS (
            SELECT CAST(0 AS BIGINT), cap FROM caps
            UNION ALL
            SELECT CASE WHEN (SELECT sum(least(d,
                            ((lo + hi) // 2 * w) // 1000000)) FROM hosts)
                            <= {budget}
                        THEN (lo + hi) // 2 ELSE lo END,
                   CASE WHEN (SELECT sum(least(d,
                            ((lo + hi) // 2 * w) // 1000000)) FROM hosts)
                            <= {budget}
                        THEN hi ELSE (lo + hi) // 2 END
            FROM bs WHERE lo + 1 < hi
        ), lam AS (
            SELECT CASE WHEN (SELECT td FROM caps) <= {budget}
                        THEN (SELECT cap FROM caps)
                        ELSE (SELECT lo FROM bs WHERE lo + 1 >= hi) END AS l
        ), alloc AS (
            SELECT host, d AS demand, w AS weight,
                   CAST(least(d, (l * w) // 1000000) AS BIGINT) AS alloc,
                   CAST(l AS BIGINT) AS lambda_micro
            FROM hosts, lam
        )
        SELECT *, CAST({budget} - (SELECT sum(alloc) FROM alloc) AS BIGINT)
                   AS leftover
        FROM alloc ORDER BY host
    """


def q_hll_sliding(spark, sf_dir):
    """Sliding-window distinct users from mergeable per-day HLL
    sketches (hll.hll_sliding_distinct — the dashboard query that
    never re-reads events): 7-day windows over the 30-day event log,
    one row per window-end day with the exact integer estimator core
    plus the true distinct count for context. The oracle replays
    registers, the window union and the core relationally — the
    q_hll_cardinality replay extended with the bucket range join."""
    from metal_history_knowledge_graph_spark.operators.hll import (
        hll_sliding_distinct,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "day",
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01"))),
    )
    slid = hll_sliding_distinct(ev, "user_id", "day", window=7, p=12)
    exact = (
        ev.select(F.col("day").alias("_d"), "user_id")
        .crossJoin(F.broadcast(ev.select("day").distinct()))
        .filter((F.col("_d") <= F.col("day")) & (F.col("_d") > F.col("day") - 7))
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return slid.join(exact, "day").orderBy("day")


def _hll_sliding_oracle() -> str:
    return """
        WITH ev AS (
            SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS INT) AS day,
                   user_id
            FROM events
        ), h AS (
            SELECT day,
                   ('0x' || substr(md5('hll|' ||
                        CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS hv
            FROM ev
        ), sk AS (
            SELECT day, CAST(hv % 4096 AS BIGINT) AS register,
                   max(CASE WHEN hv // 4096 = 0 THEN 49
                            ELSE 49 - length(bin(hv // 4096)) END) AS maxrho
            FROM h GROUP BY 1, 2
        ), ends AS (SELECT DISTINCT day AS e FROM sk),
        win AS (
            SELECT ends.e, sk.day, sk.register, sk.maxrho
            FROM sk JOIN ends ON sk.day <= ends.e AND sk.day > ends.e - 7
        ), merged AS (
            SELECT e, register, max(maxrho) AS maxrho
            FROM win GROUP BY 1, 2
        ), nb AS (
            SELECT e, CAST(count(DISTINCT day) AS BIGINT) AS n_buckets
            FROM win GROUP BY 1
        ), core AS (
            SELECT e,
                   CAST(count(*) AS BIGINT) AS n_present,
                   CAST(4096 - count(*) AS BIGINT) AS v_zero,
                   CAST(sum(1::BIGINT << (49 - maxrho))
                        + (4096 - count(*)) * (1::BIGINT << 49)
                     AS BIGINT) AS s_scaled
            FROM merged GROUP BY 1
        ), exact AS (
            SELECT ends.e, CAST(count(DISTINCT ev.user_id) AS BIGINT)
                       AS exact_distinct
            FROM ev JOIN ends ON ev.day <= ends.e AND ev.day > ends.e - 7
            GROUP BY 1
        )
        SELECT core.e AS day, nb.n_buckets, core.n_present, core.v_zero,
               core.s_scaled, exact.exact_distinct
        FROM core JOIN nb USING (e) JOIN exact USING (e)
        ORDER BY day
    """


def q_calibration(spark, sf_dir):
    """Reliability bins (operators/calibration.py): 10 equi-depth
    bins of a document-length score against an English-marker label
    (text contains ' the '), the generic pre-thresholding calibration
    report. The oracle replays the floor-formula binning (NOT NTILE —
    remainder placement differs) over row_number(score, doc_id) and
    the integer per-bin aggregates."""
    from metal_history_knowledge_graph_spark.operators.calibration import (
        calibration_bins,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("score"),
        F.col("text").contains(" the ").cast("int").alias("label"),
    )
    return calibration_bins(docs, "score", "label", "doc_id", bins=10).orderBy(
        "bin"
    )


def _calibration_oracle() -> str:
    return """
        WITH r0 AS (
            SELECT doc_id, CAST(length(text) AS BIGINT) AS s,
                   CASE WHEN strpos(text, ' the ') > 0 THEN 1 ELSE 0 END AS y
            FROM documents WHERE text IS NOT NULL
        ), rn AS (
            SELECT doc_id, s, y,
                   row_number() OVER (ORDER BY s, doc_id) - 1 AS r
            FROM r0
        )
        SELECT CAST(r * 10 // (SELECT count(*) FROM r0) + 1 AS INT) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
               min(s) AS score_min,
               max(s) AS score_max,
               CAST(sum(s) AS BIGINT) AS score_sum
        FROM rn
        GROUP BY 1 ORDER BY bin
    """


def q_bitext_pairs(spark, sf_dir):
    """Parallel-URL bitext candidates (operators/bitext.py — the
    ParaCrawl first-stage heuristic): synthesize per-doc URLs
    ``http://<source>/<lang>/article/<doc_id mod 40>`` (docs < 250),
    template the language slot, pair across languages within a
    template with the max_group=4 stop-key cap (5-language groups are
    dropped whole — the cap path is exercised). Oracle replays slot
    extraction, literal templating, the cap and the ordered self-join."""
    from metal_history_knowledge_graph_spark.operators.bitext import (
        parallel_url_pairs,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    urls = docs.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit("/"), F.col("lang"),
            F.lit("/article/"), (F.col("doc_id") % 40).cast("string"),
        ).alias("url")
    )
    return parallel_url_pairs(urls, max_group=4).orderBy(
        "template", "lang_a", "url_a", "lang_b", "url_b"
    )


def _bitext_pairs_oracle() -> str:
    return """
        WITH u0 AS (
            SELECT DISTINCT 'http://' || source || '/' || lang
                   || '/article/' || (doc_id % 40) AS url
            FROM documents WHERE doc_id < 250
        ), t AS (
            SELECT url,
                   regexp_extract(url, '/([a-z]{2}(-[A-Z]{2})?)/', 1) AS lang
            FROM u0
        ), slotted AS (
            SELECT DISTINCT
                   replace(url, '/' || lang || '/', '/{L}/') AS template,
                   lang, url
            FROM t WHERE length(lang) > 0
        ), ok AS (
            SELECT template FROM slotted
            GROUP BY template HAVING count(*) <= 4
        )
        SELECT a.template, a.lang AS lang_a, a.url AS url_a,
               b.lang AS lang_b, b.url AS url_b
        FROM slotted a
        JOIN ok USING (template)
        JOIN slotted b ON b.template = a.template AND a.lang < b.lang
        ORDER BY a.template, lang_a, url_a, lang_b, url_b
    """


def q_ndcg(spark, sf_dir):
    """Graded nDCG@10 (operators/search_quality.ndcg_quality — the
    graded companion to the P/R/MRR harness) over a deterministic
    md5 pseudo-ranking (20 queries × docs < 200; the ranking inputs
    are arbitrary BY DESIGN — the operator under test is the metric
    arithmetic) and arithmetic graded qrels (gain = (doc div 20) mod
    4, zeros exercising the idcg=0 path). The oracle replays ranking,
    qrels, DCG/IDCG and the ppm divide, inlining the SAME pinned
    1/log₂(r+1) micro constants."""
    from metal_history_knowledge_graph_spark.operators.search_quality import (
        ndcg_quality,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    qs = docs.select((F.col("doc_id") % 20).alias("query_id")).distinct()
    cand = qs.crossJoin(docs.select("doc_id")).select(
        "query_id",
        "doc_id",
        F.md5(
            F.concat(
                F.lit("rk:"),
                F.col("query_id").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("_pr"),
    )
    from pyspark.sql.window import Window

    ranking = cand.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("_pr")
        ),
    ).filter(F.col("rank") <= 10)
    qrels = docs.select(
        (F.col("doc_id") % 20).alias("query_id"),
        "doc_id",
        F.expr("(doc_id div 20) % 4").alias("gain"),
    )
    return ndcg_quality(
        ranking, qrels, k=10, id_col="doc_id"
    ).orderBy("query_id")


def _ndcg_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.search_quality import (
        dcg_discounts_micro,
    )

    vals = ", ".join(f"({r}, {d})" for r, d in dcg_discounts_micro(10))
    return f"""
        WITH docs AS (
            SELECT doc_id FROM documents WHERE doc_id < 200
        ), qs AS (
            SELECT DISTINCT doc_id % 20 AS query_id FROM docs
        ), cand AS (
            SELECT q.query_id, d.doc_id,
                   md5('rk:' || q.query_id || ':' || d.doc_id) AS pr
            FROM qs q, docs d
        ), topk AS (
            SELECT * FROM (
                SELECT query_id, doc_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY pr) AS rnk
                FROM cand
            ) WHERE rnk <= 10
        ), disc(r, dm) AS (VALUES {vals}),
        qrels AS (
            SELECT doc_id % 20 AS query_id, doc_id,
                   (doc_id // 20) % 4 AS gain
            FROM docs
        ), dcg AS (
            SELECT t.query_id,
                   CAST(sum(coalesce(qr.gain, 0) * disc.dm) AS BIGINT)
                       AS dcg_micro
            FROM topk t
            JOIN disc ON disc.r = t.rnk
            LEFT JOIN qrels qr
              ON qr.query_id = t.query_id AND qr.doc_id = t.doc_id
            GROUP BY t.query_id
        ), pos AS (
            SELECT query_id, gain,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY gain DESC, doc_id) AS p
            FROM qrels
        ), idcg AS (
            SELECT query_id,
                   CAST(sum(gain * disc.dm) AS BIGINT) AS idcg_micro
            FROM pos JOIN disc ON disc.r = pos.p
            WHERE pos.p <= 10 AND gain > 0
            GROUP BY query_id
        )
        SELECT q.query_id,
               CAST(coalesce(dcg.dcg_micro, 0) AS BIGINT) AS dcg_micro,
               CAST(coalesce(idcg.idcg_micro, 0) AS BIGINT) AS idcg_micro,
               CAST(CASE WHEN coalesce(idcg.idcg_micro, 0) = 0 THEN 0
                    ELSE coalesce(dcg.dcg_micro, 0) * 1000000
                         // idcg.idcg_micro END AS BIGINT) AS ndcg_ppm
        FROM qs q
        LEFT JOIN dcg USING (query_id)
        LEFT JOIN idcg USING (query_id)
        ORDER BY q.query_id
    """


_MIS_ROUNDS = 16


def q_mis(spark, sf_dir):
    """Luby maximal independent set (operators/mis.py — deterministic
    md5 priorities, the distributed symmetric-breaking kernel) over a
    planted arithmetic conflict graph on doc_ids < 300 (edges d→(2d+3)
    mod 300 and d→(3d+7) mod 300, symmetrized). The oracle unrolls the
    SAME rounds as chained CTEs; luby_mis raises rather than return a
    partial set if the bound is hit, so the hash compare certifies the
    full round trajectory, independence and maximality."""
    from metal_history_knowledge_graph_spark.operators.mis import luby_mis

    nodes = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").alias("node"))
    )
    e = nodes.select(
        F.col("node").alias("src"),
        ((F.col("node") * 2 + 3) % 300).alias("dst"),
    ).unionByName(
        nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 3 + 7) % 300).alias("dst"),
        )
    )
    return luby_mis(e, nodes=nodes, max_rounds=_MIS_ROUNDS).orderBy("node")


def _mis_oracle() -> str:
    parts = [
        """
        WITH nodes AS (
            SELECT doc_id AS node FROM documents WHERE doc_id < 300
        ), e0 AS (
            SELECT node AS a, (2 * node + 3) % 300 AS b FROM nodes
            UNION ALL
            SELECT node, (3 * node + 7) % 300 FROM nodes
        ), sym AS MATERIALIZED (
            SELECT DISTINCT a, b FROM (
                SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0
            ) WHERE a <> b
        ), act0 AS MATERIALIZED (
            SELECT node, md5('mis:' || node) AS pr FROM nodes
        )"""
    ]
    for k in range(1, _MIS_ROUNDS + 1):
        p = k - 1
        parts.append(f"""
        , sel{k} AS MATERIALIZED (
            SELECT a.node FROM act{p} a
            LEFT JOIN (
                SELECT e.a AS node, min(b.pr) AS mn
                FROM sym e
                JOIN act{p} b ON b.node = e.b
                JOIN act{p} c ON c.node = e.a
                GROUP BY e.a
            ) nb ON nb.node = a.node
            WHERE nb.mn IS NULL OR a.pr < nb.mn
        ), rm{k} AS MATERIALIZED (
            SELECT DISTINCT e.b AS node
            FROM sym e JOIN sel{k} s ON s.node = e.a
        ), act{k} AS MATERIALIZED (
            SELECT a.node, a.pr FROM act{p} a
            WHERE a.node NOT IN (SELECT node FROM sel{k})
              AND a.node NOT IN (SELECT node FROM rm{k})
        )""")
    sels = "\n            UNION ALL\n".join(
        f"            SELECT node, CAST({k} AS INT) AS mis_round FROM sel{k}"
        for k in range(1, _MIS_ROUNDS + 1)
    )
    parts.append(f"""
        SELECT node, mis_round FROM (
{sels}
        ) ORDER BY node
    """)
    return "".join(parts)


def q_matching(spark, sf_dir):
    """Greedy maximal matching (operators/mis.greedy_matching —
    locally-lightest-edge rounds, the one-to-one audit-pairing
    primitive) over the same planted arithmetic conflict graph as
    q_mis. Oracle unrolls the identical rounds as MATERIALIZED CTEs;
    the operator raises on round-bound hit, so the compare certifies
    the full trajectory, vertex-disjointness and maximality."""
    from metal_history_knowledge_graph_spark.operators.mis import (
        greedy_matching,
    )

    nodes = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(F.col("doc_id").alias("node"))
    )
    e = nodes.select(
        F.col("node").alias("src"),
        ((F.col("node") * 2 + 3) % 300).alias("dst"),
    ).unionByName(
        nodes.select(
            F.col("node").alias("src"),
            ((F.col("node") * 3 + 7) % 300).alias("dst"),
        )
    )
    return greedy_matching(e, max_rounds=_MIS_ROUNDS).orderBy("a", "b")


def _matching_oracle() -> str:
    parts = [
        """
        WITH nodes AS (
            SELECT doc_id AS node FROM documents WHERE doc_id < 300
        ), e0 AS (
            SELECT node AS s, (2 * node + 3) % 300 AS d FROM nodes
            UNION ALL
            SELECT node, (3 * node + 7) % 300 FROM nodes
        ), act0 AS MATERIALIZED (
            SELECT a, b, md5('match:' || a || '|' || b) AS pr FROM (
                SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
                FROM e0 WHERE s <> d
            )
        )"""
    ]
    for k in range(1, _MIS_ROUNDS + 1):
        p = k - 1
        parts.append(f"""
        , nm{k} AS MATERIALIZED (
            SELECT node, min(pr) AS mn FROM (
                SELECT a AS node, pr FROM act{p}
                UNION ALL SELECT b, pr FROM act{p}
            ) GROUP BY node
        ), sel{k} AS MATERIALIZED (
            SELECT e.a, e.b FROM act{p} e
            JOIN nm{k} x ON x.node = e.a AND x.mn = e.pr
            JOIN nm{k} y ON y.node = e.b AND y.mn = e.pr
        ), used{k} AS MATERIALIZED (
            SELECT a AS node FROM sel{k} UNION SELECT b FROM sel{k}
        ), act{k} AS MATERIALIZED (
            SELECT e.a, e.b, e.pr FROM act{p} e
            WHERE e.a NOT IN (SELECT node FROM used{k})
              AND e.b NOT IN (SELECT node FROM used{k})
        )""")
    sels = "\n            UNION ALL\n".join(
        f"            SELECT a, b, CAST({k} AS INT) AS match_round"
        f" FROM sel{k}"
        for k in range(1, _MIS_ROUNDS + 1)
    )
    parts.append(f"""
        SELECT a, b, match_round FROM (
{sels}
        ) ORDER BY a, b
    """)
    return "".join(parts)


def q_concentration(spark, sf_dir):
    """Corpus-composition concentration (operators/diversity.py):
    the one-row dataset-card report — source count, total char mass,
    top-1/top-5 shares, Simpson/Herfindahl index and inverse-Simpson
    effective source count, all exact-integer ppm/milli (DECIMAL(38)
    squares; DuckDB replays in HUGEINT)."""
    from metal_history_knowledge_graph_spark.operators.diversity import (
        concentration_report,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "chars", F.length("text")
    )
    return concentration_report(docs, "source", "chars", top_k=5)


def _concentration_oracle() -> str:
    return """
        WITH gw AS (
            SELECT source AS grp,
                   CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS weight
            FROM documents WHERE source IS NOT NULL GROUP BY source
        ), tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(weight) AS BIGINT) AS w,
                   sum(CAST(weight AS HUGEINT) * weight) AS sq
            FROM gw
        ), top1 AS (
            SELECT weight AS w1 FROM gw
            ORDER BY weight DESC, grp LIMIT 1
        ), topk AS (
            SELECT CAST(sum(weight) AS BIGINT) AS wk FROM (
                SELECT weight FROM gw ORDER BY weight DESC, grp LIMIT 5
            )
        ), rep AS (
            SELECT n AS n_groups, w AS total_weight,
                   CAST(CAST(w1 AS HUGEINT) * 1000000 // w AS BIGINT)
                       AS top1_share_ppm,
                   CAST(CAST(wk AS HUGEINT) * 1000000 // w AS BIGINT)
                       AS top5_share_ppm,
                   CAST(sq * 1000000 // (CAST(w AS HUGEINT) * w) AS BIGINT)
                       AS simpson_ppm
            FROM tot, top1, topk
        )
        SELECT *,
               CASE WHEN simpson_ppm = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(1000000000 // simpson_ppm AS BIGINT) END
                   AS effective_groups_milli
        FROM rep
    """


_KN_LOGTAB_PATH = _export("kn_logtab")


def q_kn_score(spark, sf_dir):
    """KN-bigram document quality gate (ngram_lm.kn_score_docs — the
    bigram upgrade of the CCNet unigram filter q_lm_score): train
    interpolated Kneser-Ney on the even-doc_id half, score EVERY
    document by average per-bigram NLL in integer micro-nats through
    the 4-rung integer backoff ladder (seen pair → λ·p_cont → p_cont
    → floor), gate at 12.0 nats. Trusted-export decision oracle: Spark
    exports only the (p_micro → nll_micro) log FUNCTION (ln pinned
    against math.log in pytest); DuckDB independently re-derives the
    whole KN table, every event's integer probability and the per-doc
    sums, then joins the exported log — bit-identical BIGINTs. NOTE
    the export means the oracle must run after the query in the same
    process at the same sf (driver + parity both do)."""
    from metal_history_knowledge_graph_spark.operators.ngram_lm import (
        bigram_kn,
        kn_score_docs,
    )

    docs = _t(spark, sf_dir, "documents")
    lm = bigram_kn(docs.filter(F.col("doc_id") % 2 == 0))
    scored, logtab = kn_score_docs(docs, lm, keep_below_micro=12_000_000)
    logtab.coalesce(1).write.mode("overwrite").parquet(_KN_LOGTAB_PATH)
    return scored.orderBy("doc_id")


def _kn_score_oracle() -> str:
    from metal_history_knowledge_graph_spark.operators.ngram_lm import (
        FLOOR_NLL_MICRO,
    )

    toks = (
        r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),"
        r" x -> length(x) > 0)"
    )
    return f"""
        WITH logtab AS (
            SELECT * FROM '{_KN_LOGTAB_PATH}/*.parquet'
        ), toksed AS (
            SELECT {toks} AS t FROM documents WHERE doc_id % 2 = 0
        ), bgl AS (
            SELECT list_transform(
                range(1, len(t)), i -> {{'w1': t[i], 'w2': t[i + 1]}}
            ) AS bgs
            FROM toksed WHERE len(t) >= 2
        ), bg AS (
            SELECT b.w1 AS w1, b.w2 AS w2
            FROM (SELECT unnest(bgs) AS b FROM bgl)
        ), c12 AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
            FROM bg GROUP BY w1, w2
        ), prefix AS (
            SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1_fwd
            FROM c12 GROUP BY w1
        ), cont AS (
            SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd
            FROM c12 GROUP BY w2
        ), tot AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM c12),
        lam AS (
            SELECT w1, (750000 * n1_fwd) // c1 AS lambda_micro FROM prefix
        ), pc AS (
            SELECT w2, (1000000 * n1_bwd) // nbt AS pcont_micro
            FROM cont CROSS JOIN tot
        ), pkn AS (
            SELECT c12.w1, c12.w2,
                   (1000000 * c12.c12 - 750000) // p.c1
                   + (((750000 * p.n1_fwd) // p.c1)
                      * ((1000000 * c.n1_bwd) // nbt)) // 1000000
                       AS pkn_micro
            FROM c12 JOIN prefix p USING (w1) JOIN cont c USING (w2)
            CROSS JOIN tot
        ), stoksed AS (
            SELECT doc_id, {toks} AS t FROM documents
            WHERE text IS NOT NULL
        ), sbg AS (
            SELECT doc_id, b.w1 AS w1, b.w2 AS w2
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> {{'w1': t[i], 'w2': t[i + 1]}})) AS b
                FROM stoksed WHERE len(t) >= 2
            )
        ), ev AS (
            SELECT doc_id,
                   greatest(coalesce(
                       pkn.pkn_micro,
                       CASE WHEN lam.lambda_micro IS NOT NULL
                                 AND pc.pcont_micro IS NOT NULL
                            THEN (lam.lambda_micro * pc.pcont_micro)
                                 // 1000000 END,
                       pc.pcont_micro,
                       1), 1) AS p_micro
            FROM sbg
            LEFT JOIN pkn ON sbg.w1 = pkn.w1 AND sbg.w2 = pkn.w2
            LEFT JOIN lam ON sbg.w1 = lam.w1
            LEFT JOIN pc ON sbg.w2 = pc.w2
        ), per AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS kn_bigrams,
                   CAST(sum(l.nll_micro) AS BIGINT) AS nll_sum_micro
            FROM ev JOIN logtab l USING (p_micro)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(per.kn_bigrams, 0) AS BIGINT) AS kn_bigrams,
               CAST(coalesce(per.nll_sum_micro, 0) AS BIGINT)
                   AS nll_sum_micro,
               CAST(CASE WHEN coalesce(per.kn_bigrams, 0) > 0
                    THEN per.nll_sum_micro // per.kn_bigrams
                    ELSE {FLOOR_NLL_MICRO} END AS BIGINT) AS avg_nll_micro,
               (CASE WHEN coalesce(per.kn_bigrams, 0) > 0
                     THEN per.nll_sum_micro // per.kn_bigrams
                     ELSE {FLOOR_NLL_MICRO} END) <= 12000000 AS kn_keep
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN per USING (doc_id)
        ORDER BY d.doc_id
    """


def q_cluster_eval(spark, sf_dir):
    """Dedup-clustering quality scorecard (operators/cluster_eval.py):
    pair-counting TP/FP/FN/TN + pairwise P/R + B-cubed P/R, all in
    exact integer ppm, comparing a coarse prefix-40 text clustering
    (pred) against exact-duplicate gold groups (md5 of normalized
    text) over the documents table. The oracle replays the full
    contingency-marginal arithmetic (C(n,2) sums, per-cell integer-DIV
    B³) in one statement — float-free on both sides."""
    from metal_history_knowledge_graph_spark.operators.cluster_eval import (
        cluster_eval,
    )

    norm = F.lower(F.trim(F.col("text")))
    labeled = _t(spark, sf_dir, "documents").select(
        "doc_id",
        norm.substr(1, 40).alias("pred_cluster"),
        F.md5(norm).alias("gold_cluster"),
    )
    return cluster_eval(labeled)


def _cluster_eval_oracle() -> str:
    return """
        WITH it0 AS (
            SELECT doc_id,
                   substr(lower(trim(text)), 1, 40) AS p,
                   md5(lower(trim(text))) AS g
            FROM documents
            WHERE doc_id IS NOT NULL AND text IS NOT NULL
        ), it AS (
            SELECT doc_id, min(p) AS p, min(g) AS g FROM it0 GROUP BY doc_id
        ), cells AS (
            SELECT p, g, count(*) AS n FROM it GROUP BY p, g
        ), np AS (SELECT p, count(*) AS np FROM it GROUP BY p),
        ng AS (SELECT g, count(*) AS ng FROM it GROUP BY g),
        pairs AS (
            SELECT (SELECT sum(n * (n - 1) // 2) FROM cells) AS tp,
                   (SELECT sum(np * (np - 1) // 2) FROM np) AS pp,
                   (SELECT sum(ng * (ng - 1) // 2) FROM ng) AS gp,
                   (SELECT count(*) * (count(*) - 1) // 2 FROM it) AS tot
        ), b3 AS (
            SELECT sum(c.n) AS n_items,
                   sum(c.n * (c.n * 1000000 // np.np)) // sum(c.n) AS b3p,
                   sum(c.n * (c.n * 1000000 // ng.ng)) // sum(c.n) AS b3r
            FROM cells c JOIN np USING (p) JOIN ng USING (g)
        )
        SELECT CAST(b3.n_items AS BIGINT) AS n_items,
               CAST(tp AS BIGINT) AS tp,
               CAST(pp - tp AS BIGINT) AS fp,
               CAST(gp - tp AS BIGINT) AS fn,
               CAST(tot - pp - gp + tp AS BIGINT) AS tn,
               CAST(CASE WHEN pp = 0 THEN 0
                    ELSE tp * 1000000 // pp END AS BIGINT)
                   AS pair_precision_ppm,
               CAST(CASE WHEN gp = 0 THEN 0
                    ELSE tp * 1000000 // gp END AS BIGINT)
                   AS pair_recall_ppm,
               CAST(b3p AS BIGINT) AS bcubed_precision_ppm,
               CAST(b3r AS BIGINT) AS bcubed_recall_ppm
        FROM pairs, b3
    """


_HRW_SHARDS = [f"crawler-{i}" for i in range(5)]


def q_hrw_assign(spark, sf_dir):
    """Rendezvous (HRW) host→crawler-shard assignment
    (operators/shard.hrw_assign — Thaler & Ravishankar 1996, the
    coordination-free host partitioner of distributed crawlers) over
    the distinct document sources and a 5-shard fleet, plus the
    weighted per-shard load rollup joined on. Oracle replays the
    argmax over the same md5-based 60-bit scores with the same
    (score, shard) tie-break."""
    from metal_history_knowledge_graph_spark.operators.shard import hrw_assign

    docs = _t(spark, sf_dir, "documents")
    return (
        hrw_assign(docs, "source", _HRW_SHARDS, "shard")
        .withColumnRenamed("source", "host")
        .orderBy("host")
    )


def q_hrw_rebalance(spark, sf_dir):
    """Fleet-resize diff (operators/shard.shard_moves): hosts whose
    HRW assignment changes when crawler-5 joins the fleet. The HRW
    minimal-movement guarantee makes every row's new_shard the added
    shard — the oracle recomputes both argmaxes and diffs, so the
    property itself is what the hash comparison certifies."""
    from metal_history_knowledge_graph_spark.operators.shard import shard_moves

    docs = _t(spark, sf_dir, "documents")
    return (
        shard_moves(docs, "source", _HRW_SHARDS, _HRW_SHARDS + ["crawler-5"])
        .withColumnRenamed("source", "host")
        .orderBy("host")
    )


def _hrw_cte(shards: list[str]) -> str:
    lst = ", ".join(f"'{s}'" for s in shards)
    return f"""
        hosts AS (
            SELECT DISTINCT source AS host FROM documents
            WHERE source IS NOT NULL
        ), shards AS (
            SELECT unnest([{lst}]) AS shard
        ), scores AS (
            SELECT host, shard,
                   CAST(('0x' || substr(md5('hrw:' || shard || '|' || host),
                        1, 15))::UBIGINT AS BIGINT) AS score
            FROM hosts, shards
        ), ranked AS (
            SELECT host, shard,
                   row_number() OVER (PARTITION BY host
                                      ORDER BY score DESC, shard DESC) AS rn
            FROM scores
        )
    """


def _hrw_assign_oracle() -> str:
    return (
        "WITH "
        + _hrw_cte(_HRW_SHARDS)
        + """
        SELECT host, shard FROM ranked WHERE rn = 1 ORDER BY host
    """
    )


def _hrw_rebalance_oracle() -> str:
    old = _hrw_cte(_HRW_SHARDS)
    new = _hrw_cte(_HRW_SHARDS + ["crawler-5"]).replace("hosts AS", "hosts2 AS").replace(
        "shards AS", "shards2 AS"
    ).replace("scores AS", "scores2 AS").replace("ranked AS", "ranked2 AS").replace(
        "FROM hosts, shards", "FROM hosts2, shards2"
    ).replace("FROM scores", "FROM scores2")
    return (
        "WITH "
        + old
        + ", "
        + new
        + """
        SELECT a.host, a.shard AS old_shard, b.shard AS new_shard
        FROM (SELECT host, shard FROM ranked WHERE rn = 1) a
        JOIN (SELECT host, shard FROM ranked2 WHERE rn = 1) b USING (host)
        WHERE a.shard <> b.shard
        ORDER BY host
    """
    )


def _suffix_docs(spark, sf_dir):
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 80)
        .select("doc_id", F.col("text").substr(1, 120).alias("text"))
    )


def q_lcp(spark, sf_dir):
    """LCP array by level-walking the stored prefix-doubling rank
    tables (operators/suffix.lcp_adjacent — the doubling LCP, NOT
    Kasai, which is inherently sequential): per adjacent SA pair, walk
    levels high→low adding h whenever the level-h ranks at the current
    offsets match. The DuckDB oracle computes each adjacent LCP from
    the literal suffix strings (max prefix length where the substrings
    agree) — definition vs join-only implementation."""
    from metal_history_knowledge_graph_spark.operators.suffix import lcp_adjacent

    return lcp_adjacent(_suffix_docs(spark, sf_dir)).orderBy("sa_rank")


def q_longest_repeats(spark, sf_dir):
    """Top-15 longest substrings occurring ≥ 2 times anywhere in the
    doc_id < 80 slice (overlapping + cross-document), with SA-interval
    occurrence counts (operators/suffix.longest_repeats): n_occ = 1 +
    adjacent pairs whose common prefix extends the candidate. Oracle
    replays candidates and counts from the literal suffix strings."""
    from metal_history_knowledge_graph_spark.operators.suffix import (
        longest_repeats,
    )

    return longest_repeats(_suffix_docs(spark, sf_dir), min_len=8, k=15)


def _suffix_base_cte() -> str:
    return """
        WITH d AS (
            SELECT doc_id, substr(text, 1, 120) AS t
            FROM documents
            WHERE text IS NOT NULL AND length(text) >= 1 AND doc_id < 80
        ), p AS (
            SELECT doc_id, CAST(i AS INT) AS pos,
                   substr(t, CAST(i AS INT)) AS suf
            FROM d, UNNEST(generate_series(1, length(t))) AS s(i)
        )
    """


def _suffix_ranks_oracle() -> str:
    return (
        _suffix_base_cte()
        + """
        SELECT doc_id, pos,
               CAST(dense_rank() OVER (ORDER BY suf) - 1 AS BIGINT)
                   AS suffix_rank
        FROM p ORDER BY doc_id, pos
    """
    )


def _suffix_array_oracle() -> str:
    return (
        _suffix_base_cte()
        + """
        SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1
                    AS BIGINT) AS sa_rank,
               doc_id, pos
        FROM p ORDER BY sa_rank
    """
    )


def _lcp_cte() -> str:
    """Adjacent-pair LCP from the literal suffix strings: max k with
    equal k-prefixes (prefix equality at k implies it at every j<k, so
    max(k) IS the LCP). Ends with ``lcps(sa_rank, doc_id, pos, lcp,
    suf)``."""
    return (
        _suffix_base_cte()
        + """
        , sa AS (
            SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1
                        AS BIGINT) AS sa_rank,
                   doc_id, pos, suf
            FROM p
        ), adj AS (
            SELECT a.sa_rank, a.doc_id, a.pos, a.suf, b.suf AS prev_suf
            FROM sa a LEFT JOIN sa b ON b.sa_rank = a.sa_rank - 1
        ), lcps AS (
            SELECT sa_rank, doc_id, pos,
                   CAST(coalesce((
                       SELECT max(k)
                       FROM UNNEST(generate_series(1,
                            least(length(suf), length(prev_suf)))) t(k)
                       WHERE substr(suf, 1, CAST(k AS INT))
                             = substr(prev_suf, 1, CAST(k AS INT))
                   ), 0) AS BIGINT) AS lcp,
                   suf
            FROM adj
        )
    """
    )


def _lcp_oracle() -> str:
    return _lcp_cte() + """
        SELECT sa_rank, doc_id, pos, lcp FROM lcps ORDER BY sa_rank
    """


def _longest_repeats_oracle(min_len: int = 8, k: int = 15) -> str:
    return (
        _lcp_cte()
        + f"""
        , reps AS (
            SELECT substr(suf, 1, CAST(lcp AS INT)) AS substring,
                   lcp AS rep_len
            FROM lcps WHERE lcp >= {min_len}
        ), cand AS (
            SELECT DISTINCT substring, rep_len FROM reps
            ORDER BY rep_len DESC, substring LIMIT {k}
        )
        SELECT c.substring, c.rep_len,
               CAST(count(*) + 1 AS BIGINT) AS n_occ
        FROM cand c JOIN reps r
          ON r.rep_len >= c.rep_len
         AND substr(r.substring, 1, CAST(c.rep_len AS INT)) = c.substring
        GROUP BY c.substring, c.rep_len
        ORDER BY c.rep_len DESC, c.substring
    """
    )


def _winnow_oracle() -> str:
    return (
        _winnow_cte("doc_id < 150")
        + """
        SELECT doc_id, pos, fp FROM all_fps ORDER BY doc_id, pos, fp
    """
    )


def _winnow_pairs_oracle() -> str:
    return (
        _winnow_cte("TRUE")
        + """
        , fpd AS (SELECT DISTINCT doc_id, fp FROM all_fps),
        kept AS (
            SELECT doc_id, fp FROM fpd
            WHERE fp NOT IN (
                SELECT fp FROM fpd GROUP BY fp HAVING count(*) > 50
            )
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fps
        FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= 2
        ORDER BY doc_a, doc_b
    """
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is load-bearing: the driver's CORRECTNESS gate
    verifies the first 50 entries, so every one of those carries an
    exact DuckDB oracle (pinned by tests/test_driver_entry.py). The
    window holds the kg_* decision-oracle queries, the round-4
    text/sketch/graph families through q_hyperball, and the first
    staged never-hashed entries (q_warc_pipeline … q_qdigest). The
    entries after it up to q_langid_eval are the never-hashed
    remainder staged for the next window (the block after the window
    marker below). Every entry stays pinned each run by
    tests/test_oracle_parity.py, which checks ALL oracle pairs
    regardless of position. EVERY entry, including all kg_* pipeline
    queries, carries an exact DuckDB oracle — no rows-only tail."""
    return {
        # ---- driver window (r5): the 50 never-hard-hashed oracles ----
        "kg_entity_counts": kg_entity_counts,
        "kg_triples": kg_triples,
        "kg_components": kg_components,
        "kg_birmingham": kg_birmingham,
        "q_prefix_groups": q_prefix_groups,
        "q_dsir_select": q_dsir_select,
        "q_semdedup": q_semdedup,
        "kg_album_tracks": kg_album_tracks,
        "kg_cooccurrence": kg_cooccurrence,
        "kg_dedup_variants": kg_dedup_variants,
        "kg_chunk_stats": kg_chunk_stats,
        "kg_betweenness": kg_betweenness,
        "kg_pagerank": kg_pagerank,
        "kg_path_analysis": kg_path_analysis,
        "kg_validation": kg_validation,
        "kg_quality": kg_quality,
        "kg_hybrid_search": kg_hybrid_search,
        "kg_intent_search": kg_intent_search,
        "kg_monitor": kg_monitor,
        "q_quality_clf": q_quality_clf,
        "q_tfidf_keywords": q_tfidf_keywords,
        "q_idf_merge": q_idf_merge,
        "q_kn_bigrams": q_kn_bigrams,
        "q_sentence_stats": q_sentence_stats,
        "q_script_stats": q_script_stats,
        "q_heavy_hitters": q_heavy_hitters,
        "q_fuzzy_join": q_fuzzy_join,
        "q_temperature_mix": q_temperature_mix,
        "q_pub_dates": q_pub_dates,
        "q_ktruss": q_ktruss,
        "q_fuzzy_probe": q_fuzzy_probe,
        "q_exact_quantiles": q_exact_quantiles,
        "q_ccnet_buckets": q_ccnet_buckets,
        "q_lpa_communities": q_lpa_communities,
        "q_pmi_collocations": q_pmi_collocations,
        "q_random_walks": q_random_walks,
        "q_assortativity": q_assortativity,
        "q_burst_terms": q_burst_terms,
        "q_scc": q_scc,
        "q_scc_dag": q_scc_dag,
        "q_bowtie": q_bowtie,
        "q_priority_sample": q_priority_sample,
        "q_funnel": q_funnel,
        "q_cocitation": q_cocitation,
        "q_hyperball": q_hyperball,
        "q_warc_pipeline": q_warc_pipeline,
        "q_pagerank_inc": q_pagerank_inc,
        "q_kmv_distinct": q_kmv_distinct,
        "q_kmv_jaccard": q_kmv_jaccard,
        "q_qdigest": q_qdigest,
        # ---- end of the driver's 50-row window (50 entries above) ----
        # never-hard-hashed remainder, staged for the next window (49):
        "q_qdigest_quantiles": q_qdigest_quantiles,
        "q_densest": q_densest,
        "q_butterflies": q_butterflies,
        "q_decayed_counts": q_decayed_counts,
        "q_domain_groups": q_domain_groups,
        "q_modularity": q_modularity,
        "q_winnow": q_winnow,
        "q_winnow_pairs": q_winnow_pairs,
        "q_suffix_ranks": q_suffix_ranks,
        "q_suffix_array": q_suffix_array,
        "q_lcp": q_lcp,
        "q_longest_repeats": q_longest_repeats,
        "q_hrw_assign": q_hrw_assign,
        "q_hrw_rebalance": q_hrw_rebalance,
        "q_cluster_eval": q_cluster_eval,
        "q_kn_score": q_kn_score,
        "q_mis": q_mis,
        "q_matching": q_matching,
        "q_concentration": q_concentration,
        "q_ndcg": q_ndcg,
        "q_bitext_pairs": q_bitext_pairs,
        "q_calibration": q_calibration,
        "q_winnow_probe": q_winnow_probe,
        "q_hll_sliding": q_hll_sliding,
        "q_waterfill": q_waterfill,
        "q_cohorts": q_cohorts,
        "q_rbo": q_rbo,
        "q_markov_trans": q_markov_trans,
        "q_markov_mass": q_markov_mass,
        "q_textrank": q_textrank,
        "q_jsonld": q_jsonld,
        "q_jsonld_rollup": q_jsonld_rollup,
        "q_robots_meta": q_robots_meta,
        "q_nofollow_links": q_nofollow_links,
        "q_hreflang": q_hreflang,
        "q_jsonld_mentions": q_jsonld_mentions,
        "q_salsa": q_salsa,
        "q_katz": q_katz,
        "q_mad_outliers": q_mad_outliers,
        "q_near_match": q_near_match,
        "q_ams_f2": q_ams_f2,
        "q_ams_join": q_ams_join,
        "q_topo_layers": q_topo_layers,
        "q_blocklist": q_blocklist,
        "q_cusum": q_cusum,
        "q_negative_edges": q_negative_edges,
        "q_link_auc": q_link_auc,
        "q_cusum_onsets": q_cusum_onsets,
        "q_langid_eval": q_langid_eval,
        # oracle-backed, green HARD driver rows in CORRECTNESS_r01-r04:
        "q_webtext_prep": q_webtext_prep,
        "q_prefix_join": q_prefix_join,
        "q_containment": q_containment,
        "q_kcore": q_kcore,
        "td_pq_topk": td_pq_topk,
        "td_ivfpq_topk": td_ivfpq_topk,
        "q_hll_cardinality": q_hll_cardinality,
        "q_warc_roundtrip": q_warc_roundtrip,
        "q_bpe_pairs": q_bpe_pairs,
        "q_zorder": q_zorder,
        "q_components_inc": q_components_inc,
        "q_host_graph": q_host_graph,
        "q_hits": q_hits,
        "q_anchor_text": q_anchor_text,
        "q_pps_sample": q_pps_sample,
        "q_phrase_match": q_phrase_match,
        "q_harmonic": q_harmonic,
        "q_markup_stats": q_markup_stats,
        "q_link_features": q_link_features,
        "q_link_pred": q_link_pred,
        "q_ppr": q_ppr,
        "q_token_budget": q_token_budget,
        "q_pagerank_weighted": q_pagerank_weighted,
        "q_dedup_keep_best": q_dedup_keep_best,
        "q_dup_spans": q_dup_spans,
        "q_boilerplate": q_boilerplate,
        "q_span_scrub": q_span_scrub,
        "q_bm25_topk": q_bm25_topk,
        "q_rrf_fusion": q_rrf_fusion,
        "q_bloom_probe": q_bloom_probe,
        "q_cms_estimate": q_cms_estimate,
        "q_vocab_coverage": q_vocab_coverage,
        "td_minhash_probe": td_minhash_probe,
        "q_snapshot_diff": q_snapshot_diff,
        "q_cap_per_group": q_cap_per_group,
        "q_within_doc_dedup": q_within_doc_dedup,
        "q_nfc_normalize": q_nfc_normalize,
        "q_lm_score": q_lm_score,
        "q_neardup_bands": q_neardup_bands,
        "td_lsh_topk": td_lsh_topk,
        "q_click_attribution": q_click_attribution,
        "q_latest_event": q_latest_event,
        "q_word_freq": q_word_freq,
        "q_ivf_fullprobe": q_ivf_fullprobe,
        "q_triangles": q_triangles,
        "q_point_lookup": q_point_lookup,
        "q_anti_join": q_anti_join,
        "q_window_rank": q_window_rank,
        "q_degree": q_degree,
        "q_hourly_events": q_hourly_events,
        "q_mix_sources": q_mix_sources,
        "q_shard_stats": q_shard_stats,
        "q_path_enum": q_path_enum,
        "q_path_stats": q_path_stats,
        "q_collect_list": q_collect_list,
        "kg_canon_counts": kg_canon_counts,
        "kg_edge_replay": kg_edge_replay,
        "kg_orphans": kg_orphans,
        "q_rollup": q_rollup,
        "q_pivot": q_pivot,
        "q_sliding_window": q_sliding_window,
        "q_dup_groups": q_dup_groups,
        "q_semi_join": q_semi_join,
        "q_json_extract": q_json_extract,
        "q_repetition_stats": q_repetition_stats,
        "q_source_stats": q_source_stats,
        "td_minhash_pairs": td_minhash_pairs,
        "td_simhash_pairs": td_simhash_pairs,
        "td_ivf_topk": td_ivf_topk,
        "q_pricing_summary": q_pricing_summary,
        "q_filter_sort_paginate": q_filter_sort_paginate,
        "q_join_topn": q_join_topn,
        "q_year_bucket": q_year_bucket,
        "q_self_join_pairs": q_self_join_pairs,
        "q_range_join": q_range_join,
        "q_substring_rank": q_substring_rank,
        "q_multihop_join": q_multihop_join,
        "q_percentiles": q_percentiles,
        "q_token_counts": q_token_counts,
        "q_quality_scores": q_quality_scores,
        "q_lang_id": q_lang_id,
        "q_hash_sample": q_hash_sample,
        "q_stratified_sample": q_stratified_sample,
        "q_exact_dup_groups": q_exact_dup_groups,
        "q_wordset_jaccard": q_wordset_jaccard,
        "q_cosine_topk": q_cosine_topk,
        "q_cosine_neardup": q_cosine_neardup,
        "q_pii_redact": q_pii_redact,
        "q_contamination": q_contamination,
        "q_pack_stats": q_pack_stats,
        "q_url_canon": q_url_canon,
        "q_profile": q_profile,
        "q_lsh_buckets": q_lsh_buckets,
        "q_training_export": q_training_export,
        "q_hybrid_rank": q_hybrid_rank,
        "q_media_features": q_media_features,
        "q_components": q_components,
        "q_bfs_hops": q_bfs_hops,
        "q_mutual_edges": q_mutual_edges,
        "q_betweenness": q_betweenness,
        "q_clustering": q_clustering,
        "q_pagerank": q_pagerank,
        "q_sessionize": q_sessionize,
        "q_asof_join": q_asof_join,
        "q_search_quality": q_search_quality,
    }


def oracle_sql() -> dict[str, str]:
    from metal_history_knowledge_graph_spark.operators.triples import (
        PREDICATE_ALIASES,
        PREDICATE_WHITELIST,
        SINGULAR_TO_PLURAL,
    )

    toks = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> length(x) > 0)"
    _alias_case = (
        "CASE lower(rel_type) "
        + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in sorted(PREDICATE_ALIASES.items()))
        + " ELSE upper(rel_type) END"
    )
    _whitelist = ", ".join(f"'{p}'" for p in sorted(PREDICATE_WHITELIST))

    def _plural_case(col):
        return (
            f"CASE {col} "
            + " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in sorted(SINGULAR_TO_PLURAL.items()))
            + " ELSE NULL END"
        )

    def _edge_replay_cte(rels_path, ents_path, res_path):
        """The full triples.py replay as a reusable CTE chain ending in
        ``resolved`` (pred, subj_id, subj_type, subj_name, obj_id,
        obj_type, obj_name) — the body shared by kg_edge_replay /
        kg_triples, parameterized on export paths so each query's
        oracle reads its OWN fresh export (no cross-query run-order
        side channel)."""
        return f"""rels AS (
                SELECT * FROM '{rels_path}/*.parquet'
            ), ents AS (
                SELECT * FROM '{ents_path}/*.parquet'
            ), res AS (
                SELECT * FROM '{res_path}/*.parquet'
            ), member_of AS (
                SELECT 'MEMBER_OF' AS rel_type,
                       'person' AS from_entity_type,
                       canonical_name AS from_entity_name,
                       'band' AS to_entity_type,
                       unnest(CAST(attrs_json->'$.associated_bands'
                                   AS VARCHAR[])) AS to_entity_name
                FROM ents WHERE entity_type = 'people'
            ), released AS (
                SELECT 'RELEASED', 'band',
                       json_extract_string(attrs_json, '$.artist'),
                       'album', canonical_name
                FROM ents WHERE entity_type = 'albums'
                  AND json_extract_string(attrs_json, '$.artist') IS NOT NULL
            ), contains_track AS (
                SELECT 'CONTAINS_TRACK', 'album',
                       json_extract_string(attrs_json, '$.album'),
                       'song', canonical_name
                FROM ents WHERE entity_type = 'songs'
                  AND json_extract_string(attrs_json, '$.album') IS NOT NULL
            ), cand AS (
                SELECT rel_type, from_entity_type, from_entity_name,
                       to_entity_type, to_entity_name FROM rels
                UNION ALL SELECT * FROM member_of
                UNION ALL SELECT * FROM released
                UNION ALL SELECT * FROM contains_track
            ), norm AS (
                SELECT * FROM (
                    SELECT {_alias_case} AS pred,
                           {_plural_case('from_entity_type')} AS subj_etype,
                           lower(trim(from_entity_name)) AS subj_norm,
                           {_plural_case('to_entity_type')} AS obj_etype,
                           lower(trim(to_entity_name)) AS obj_norm
                    FROM cand
                ) WHERE pred IN ({_whitelist})
            ), resolved AS (
                SELECT DISTINCT n.pred,
                       rs.canonical_id AS subj_id,
                       n.subj_etype AS subj_type,
                       rs.canonical_name AS subj_name,
                       ro.canonical_id AS obj_id,
                       n.obj_etype AS obj_type,
                       ro.canonical_name AS obj_name
                FROM norm n
                JOIN res rs ON rs.entity_type = n.subj_etype
                           AND rs.form_norm = n.subj_norm
                JOIN res ro ON ro.entity_type = n.obj_etype
                           AND ro.form_norm = n.obj_norm
            )"""

    def _full_edges_oracle(rels_path, ents_path, res_path, prov_path):
        """The kg_triples decision oracle, parameterized on export
        paths (shared with q_warc_pipeline): the complete triples.py
        replay via ``_edge_replay_cte``, then exact n_sources
        re-derived from the (edge_key, url) provenance pairs by
        recomputing edge_key = md5(pred|subj_id|obj_id)."""
        return f"""
            WITH {_edge_replay_cte(rels_path, ents_path, res_path)},
            prov AS (
                SELECT edge_key, count(DISTINCT url) AS n_sources
                FROM '{prov_path}/*.parquet'
                GROUP BY edge_key
            )
            SELECT r.pred, r.subj_type, r.subj_name, r.obj_type, r.obj_name,
                   CAST(coalesce(p.n_sources, 0) AS INTEGER) AS n_sources
            FROM resolved r
            LEFT JOIN prov p
              ON p.edge_key = md5(r.pred || '|'
                                  || CAST(r.subj_id AS VARCHAR) || '|'
                                  || CAST(r.obj_id AS VARCHAR))
            ORDER BY pred, subj_name, obj_name, subj_type, obj_type,
                     n_sources
        """

    # shared by td_minhash_pairs and q_dup_groups: injected-dup corpus →
    # word-3-gram shingle sets → exact all-pairs Jaccard (the decision
    # function the LSH prefilter must reproduce with recall 1.0)
    _minhash_sh = f"""docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents
                WHERE doc_id < 30
            ), t AS (
                SELECT doc_id, {toks} AS toks FROM docs
            ), sh AS (
                SELECT doc_id,
                    CASE WHEN length(toks) >= 3 THEN
                        list_distinct(list_transform(
                            generate_series(1, length(toks) - 2),
                            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
                    ELSE [array_to_string(toks, ' ')] END AS shingles
                FROM t
            )"""
    _minhash_scored = """
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       round(length(list_intersect(a.shingles, b.shingles))::DOUBLE
                             / (length(a.shingles) + length(b.shingles)
                                - length(list_intersect(a.shingles, b.shingles))),
                             4) AS jaccard
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            """
    return {
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_filter_sort_paginate": """
            SELECT c_custkey, c_name, rn FROM (
                SELECT c_custkey, c_name,
                       row_number() OVER (ORDER BY c_name) AS rn
                FROM customer WHERE c_mktsegment = 'BUILDING'
            ) WHERE rn > 10 AND rn <= 30
        """,
        "q_point_lookup": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey = 42
        """,
        "q_join_topn": """
            SELECT c_custkey, c_name,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 10
        """,
        "q_anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY c_custkey
        """,
        "q_window_rank": """
            SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders
            ) WHERE rk <= 2
        """,
        "q_year_bucket": """
            SELECT year(o_orderdate) AS order_year,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total
            FROM orders GROUP BY 1
        """,
        "q_self_join_pairs": """
            SELECT a.s_nationkey AS n_nationkey, count(*) AS n_pairs
            FROM supplier a JOIN supplier b
              ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
            GROUP BY 1
        """,
        "q_range_join": """
            SELECT a.user_id, count(*) AS n_pairs
            FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.event_id < b.event_id
             AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600 * 1000000
            GROUP BY 1
        """,
        "q_substring_rank": """
            SELECT p_partkey, p_name,
                   CASE WHEN lower(p_name) = 're' THEN 0
                        WHEN lower(p_name) LIKE 're%' THEN 1
                        ELSE 2 END AS rank_key
            FROM part WHERE lower(p_name) LIKE '%re%'
        """,
        "q_degree": """
            SELECT user_id, count(DISTINCT event_type) AS type_degree,
                   count(*) AS n_events
            FROM events GROUP BY 1
        """,
        "q_multihop_join": """
            SELECT c_custkey, c_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 25
        """,
        "q_percentiles": """
            SELECT o_orderstatus,
                   round(median(o_totalprice), 2) AS median_price,
                   round(quantile_cont(o_totalprice, 0.9), 2) AS p90_price,
                   count(*) AS n
            FROM orders GROUP BY 1
        """,
        "q_hourly_events": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "q_token_counts": f"""
            SELECT doc_id,
                   length({toks}) AS n_tokens,
                   -- DuckDB list_sum over BIGINT yields HUGEINT (int128);
                   -- cast back so the driver hashes it as int64 like Spark
                   CAST(coalesce(list_sum(list_transform({toks},
                        x -> cast(ceil(length(x) / 4.0) AS BIGINT))), 0) AS BIGINT)
                       AS n_subword_tokens
            FROM documents
        """,
        "q_quality_scores": f"""
            SELECT doc_id,
                   floor((0.4 * least(1.0, length(text) / 2000.0)
                       + 0.3 * (1.0 - least(1.0, 6.0 *
                            (CASE WHEN length(text) > 0 THEN
                                (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                                / length(text) ELSE 0 END)))
                       + 0.3 * least(1.0, 5.0 *
                            (CASE WHEN length({toks}) > 0 THEN
                                length(list_filter({toks},
                                    x -> list_contains({_STOPWORDS_SQL}, x)))::DOUBLE
                                / length({toks}) ELSE 0 END))) * 10000) / 10000.0
                       AS quality_score
            FROM documents
        """,
        # deterministic sampling family: replay the md5 keep/drop
        # decision (hash_bucket = first 8 md5 hex chars mod 1e6)
        "q_hash_sample": """
            SELECT doc_id, lang, source, n_chars FROM documents
            WHERE CAST(('0x' || substr(md5('samp:7|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 1000000 AS BIGINT) < 250000
        """,
        "q_stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('strat:3|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 1000000 AS BIGINT) <
                  CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 800000
                            WHEN 'fr' THEN 100000 ELSE 0 END
        """,
        "q_mix_sources": """
            WITH tgt(source, w) AS (VALUES ('src0', 1.0), ('src1', 1.0), ('src2', 2.0)),
            shares AS (SELECT source, w / (SELECT sum(w) FROM tgt) AS share FROM tgt),
            counts AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
            j AS (SELECT s.source, s.share, coalesce(c.cnt, 0) AS cnt
                  FROM shares s LEFT JOIN counts c USING (source)),
            lim AS (SELECT min(cnt / share) AS l FROM j WHERE share > 0),
            rates AS (SELECT source,
                             CASE WHEN cnt = 0 THEN 0.0
                                  ELSE least(1.0, ((SELECT l FROM lim) * share) / cnt)
                             END AS r
                      FROM j)
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates USING (source)
            WHERE CAST(('0x' || substr(md5('strat:5|' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 1000000 AS BIGINT)
                  < CAST(floor(r * 1000000) AS BIGINT)
        """,
        "q_lang_id": f"""
            WITH t AS (
                SELECT doc_id, list_distinct({toks}) AS dt FROM documents
            ), hits AS (
                SELECT doc_id,
                    length(list_intersect(dt, ['the','and','of','to','in','is','was','that','with','for'])) AS h_en,
                    length(list_intersect(dt, ['der','die','und','das','ist','ein','nicht','mit','von','auf'])) AS h_de,
                    length(list_intersect(dt, ['le','la','et','les','des','est','une','dans','que','pour'])) AS h_fr,
                    length(list_intersect(dt, ['el','la','de','que','los','una','por','con','para','del'])) AS h_es
                FROM t
            )
            SELECT doc_id,
                   CASE WHEN greatest(h_en, h_de, h_fr, h_es) <= 0 THEN 'und'
                        WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                        WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
                        WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                        ELSE 'es' END AS lang_id
            FROM hits
        """,
        "q_exact_dup_groups": r"""
            WITH docs AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50
            ), fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
                FROM docs
            )
            SELECT fingerprint, min(doc_id) AS keep_id, count(*) AS group_size
            FROM fp GROUP BY fingerprint HAVING count(*) >= 2
        """,
        "q_wordset_jaccard": f"""
            WITH d AS (
                SELECT doc_id, list_sort(list_distinct({toks})) AS words
                FROM documents WHERE doc_id < 40
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(length(list_intersect(a.words, b.words))::DOUBLE
                         / (length(a.words) + length(b.words)
                            - length(list_intersect(a.words, b.words))), 4) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id
            WHERE round(length(list_intersect(a.words, b.words))::DOUBLE
                        / (length(a.words) + length(b.words)
                           - length(list_intersect(a.words, b.words))), 4) >= 0.5
        """,
        "q_components": """
            WITH nat AS (SELECT n_regionkey, count(*) AS c FROM nation GROUP BY 1),
            sup AS (
                SELECT n_regionkey, count(*) AS c
                FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1
            ),
            cus AS (
                SELECT n_regionkey, count(*) AS c
                FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1
            )
            SELECT CAST(r_regionkey AS BIGINT) AS component_id,
                   CAST(1 + coalesce(nat.c, 0) + coalesce(sup.c, 0)
                          + coalesce(cus.c, 0) AS BIGINT) AS n_nodes
            FROM region
            LEFT JOIN nat ON nat.n_regionkey = r_regionkey
            LEFT JOIN sup ON sup.n_regionkey = r_regionkey
            LEFT JOIN cus ON cus.n_regionkey = r_regionkey
            ORDER BY component_id
        """,
        # incremental CC must land on the SAME closed-form hierarchy
        # result as the full recompute (q_components)
        "q_components_inc": """
            WITH nat AS (SELECT n_regionkey, count(*) AS c FROM nation GROUP BY 1),
            sup AS (
                SELECT n_regionkey, count(*) AS c
                FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1
            ),
            cus AS (
                SELECT n_regionkey, count(*) AS c
                FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1
            )
            SELECT CAST(r_regionkey AS BIGINT) AS component_id,
                   CAST(1 + coalesce(nat.c, 0) + coalesce(sup.c, 0)
                          + coalesce(cus.c, 0) AS BIGINT) AS n_nodes
            FROM region
            LEFT JOIN nat ON nat.n_regionkey = r_regionkey
            LEFT JOIN sup ON sup.n_regionkey = r_regionkey
            LEFT JOIN cus ON cus.n_regionkey = r_regionkey
            ORDER BY component_id
        """,
        "q_bfs_hops": f"""
            WITH RECURSIVE {_DERIVED_EDGES_SQL},
            walk(node, hops) AS (
                SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
                UNION ALL
                SELECT edges.dst, walk.hops + 1
                FROM walk JOIN edges ON edges.src = walk.node
                WHERE walk.hops < 4
            )
            SELECT node, min(hops) AS hops FROM walk GROUP BY node ORDER BY node
        """,
        "q_betweenness": f"""
            WITH RECURSIVE {_DERIVED_EDGES_SQL},
            und AS (
                SELECT src AS a, dst AS b FROM edges
                UNION
                SELECT dst AS a, src AS b FROM edges
            ),
            srcs AS (
                SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 16
            ),
            walk(s, node, hops) AS (
                SELECT s, s, CAST(0 AS BIGINT) FROM srcs
                UNION
                SELECT walk.s, und.b, walk.hops + 1
                FROM walk JOIN und ON und.a = walk.node
                WHERE walk.hops < 6
            ),
            dist AS (
                SELECT s, node, min(hops) AS d FROM walk GROUP BY s, node
            ),
            parents AS (
                -- min-parent shortest-path tree: parent(v) = min
                -- neighbor at dist-1 (the well-defined tie-break the
                -- Spark operator uses)
                SELECT c.s, c.node, min(p.node) AS parent
                FROM dist c
                JOIN und ON und.b = c.node
                JOIN dist p ON p.s = c.s AND p.node = und.a
                             AND p.d = c.d - 1
                WHERE c.d > 0
                GROUP BY c.s, c.node
            ),
            chain(s, dst, cur) AS (
                SELECT s, node, parent FROM parents WHERE parent <> s
                UNION
                SELECT c.s, c.dst, p.parent
                FROM chain c
                JOIN parents p ON p.s = c.s AND p.node = c.cur
                WHERE p.parent <> c.s
            )
            SELECT cur AS node_id, count(*) AS betweenness
            FROM chain GROUP BY cur ORDER BY node_id
        """,
        "q_path_enum": f"""
            WITH RECURSIVE {_DERIVED_EDGES_SQL},
            -- explicit DISTINCT: DuckDB 1.0 loses the UNION dedup of
            -- the edges CTE when it is referenced from a recursive
            -- CTE, duplicating the two pairs that two generator
            -- branches both emit ((0,1) and (250,251))
            dedges AS (SELECT DISTINCT src, dst FROM edges),
            walk(src, dst, path, path_str, hops) AS (
                SELECT src, dst, [src, dst],
                       CAST(src AS VARCHAR) || '->' || CAST(dst AS VARCHAR),
                       CAST(1 AS BIGINT)
                FROM dedges WHERE src < 40
                UNION ALL
                SELECT w.src, e.dst, list_append(w.path, e.dst),
                       w.path_str || '->' || CAST(e.dst AS VARCHAR),
                       w.hops + 1
                FROM walk w JOIN dedges e ON e.src = w.dst
                WHERE w.hops < 4 AND NOT list_contains(w.path, e.dst)
            )
            SELECT src, dst, hops, path_str FROM walk
            ORDER BY hops DESC, path_str
        """,
        "q_path_stats": f"""
            WITH RECURSIVE {_DERIVED_EDGES_SQL},
            und AS (
                SELECT src AS a, dst AS b FROM edges
                UNION
                SELECT dst AS a, src AS b FROM edges
            ),
            srcs AS (SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 16),
            walk(s, node, hops) AS (
                SELECT s, s, CAST(0 AS BIGINT) FROM srcs
                UNION
                SELECT w.s, u.b, w.hops + 1
                FROM walk w JOIN und u ON u.a = w.node
                WHERE w.hops < 8
            ),
            dist AS (
                SELECT s, node, min(hops) AS hops FROM walk GROUP BY s, node
            )
            SELECT hops, count(*) AS n_pairs FROM dist
            WHERE node > s GROUP BY hops ORDER BY hops
        """,
        "q_mutual_edges": f"""
            WITH {_DERIVED_EDGES_SQL}
            SELECT x.src AS a, x.dst AS b
            FROM edges x JOIN edges y ON x.src = y.dst AND x.dst = y.src
            WHERE x.src < x.dst
            ORDER BY a, b
        """,
        "q_triangles": f"""
            WITH {_DERIVED_EDGES_SQL},
            u AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges
            )
            SELECT ab.a AS a, ab.b AS b, bc.b AS c
            FROM u ab
            JOIN u bc ON bc.a = ab.b
            JOIN u ac ON ac.a = ab.a AND ac.b = bc.b
            ORDER BY a, b, c
        """,
        "q_clustering": f"""
            WITH {_DERIVED_EDGES_SQL},
            und AS (
                SELECT src AS a, dst AS b FROM edges
                UNION
                SELECT dst AS a, src AS b FROM edges
            ),
            u AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges
            ),
            tri AS (
                SELECT ab.a AS a, ab.b AS b, bc.b AS c
                FROM u ab
                JOIN u bc ON bc.a = ab.b
                JOIN u ac ON ac.a = ab.a AND ac.b = bc.b
            ),
            tpn AS (
                SELECT node, count(*) AS t FROM (
                    SELECT a AS node FROM tri
                    UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri
                ) GROUP BY node
            ),
            deg AS (SELECT a AS node, count(*) AS degree FROM und GROUP BY a)
            SELECT deg.node AS node, degree,
                   coalesce(t, 0) AS triangles,
                   round(CASE WHEN degree >= 2
                        THEN 2.0 * coalesce(t, 0) / (degree * (degree - 1))
                        ELSE 0.0 END, 4) AS clustering
            FROM deg LEFT JOIN tpn ON tpn.node = deg.node
            ORDER BY node
        """,
        "q_collect_list": """
            SELECT n_name,
                   string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
                   count(*) AS n_suppliers
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name
        """,
        "q_word_freq": f"""
            SELECT word, count(*) AS n FROM (
                SELECT unnest({toks}) AS word
                FROM documents WHERE doc_id < 100
            ) GROUP BY word ORDER BY n DESC, word LIMIT 20
        """,
        "q_media_features": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image'
                        WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   octet_length(encode(text)) AS n_bytes,
                   sha256(text) AS sha256
            FROM documents WHERE length(text) > 0
        """,
        "q_hybrid_rank": """
            WITH q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ),
            sem AS (
                SELECT vec_id AS doc,
                       round(list_cosine_similarity(embedding::DOUBLE[], qv), 4)
                           AS semantic_score
                FROM embeddings, q
                ORDER BY semantic_score DESC, doc ASC LIMIT 45
            ),
            kw AS (
                SELECT doc_id AS doc,
                       CASE WHEN lower(trim(text)) = 'data' THEN 1.0
                            WHEN lower(trim(text)) LIKE 'data%' THEN 0.8
                            ELSE 0.5 END AS keyword_score
                FROM documents WHERE lower(trim(text)) LIKE '%data%'
            )
            SELECT coalesce(sem.doc, kw.doc) AS doc,
                   coalesce(semantic_score, 0) AS semantic_score,
                   coalesce(keyword_score, 0) AS keyword_score,
                   round(0.7 * coalesce(semantic_score, 0)
                       + 0.3 * coalesce(keyword_score, 0), 4) AS final_score
            FROM sem FULL OUTER JOIN kw ON sem.doc = kw.doc
            ORDER BY final_score DESC, doc ASC LIMIT 15
        """,
        "q_ivf_fullprobe": """
            WITH q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        "td_minhash_probe": f"""
            WITH {_minhash_sh}
            SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
                   round(length(list_intersect(a.shingles, b.shingles))::DOUBLE
                         / (length(a.shingles) + length(b.shingles)
                            - length(list_intersect(a.shingles, b.shingles))),
                         4) AS jaccard
            FROM sh a JOIN sh b
              ON a.doc_id >= 100000 AND b.doc_id < 100000
            WHERE round(length(list_intersect(a.shingles, b.shingles))::DOUBLE
                        / (length(a.shingles) + length(b.shingles)
                           - length(list_intersect(a.shingles, b.shingles))),
                        4) >= 0.9
            ORDER BY doc_new, doc_old
        """,
        "td_minhash_pairs": f"""
            WITH {_minhash_sh}
            SELECT doc_a, doc_b, jaccard FROM ({_minhash_scored})
            WHERE jaccard >= 0.9
            ORDER BY doc_a, doc_b
        """,
        "q_dup_groups": f"""
            WITH RECURSIVE {_minhash_sh},
            pairs AS (
                SELECT doc_a, doc_b FROM ({_minhash_scored})
                WHERE jaccard >= 0.9
            ),
            sym AS (
                SELECT doc_a AS a, doc_b AS b FROM pairs
                UNION
                SELECT doc_b AS a, doc_a AS b FROM pairs
            ),
            reach AS (
                SELECT a AS src, a AS node FROM sym
                UNION
                SELECT r.src, s.b AS node
                FROM reach r JOIN sym s ON r.node = s.a
            ),
            groups AS (
                SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS group_rep
                FROM reach GROUP BY src
            )
            SELECT g.doc_id, g.group_rep, c.group_size
            FROM groups g
            JOIN (SELECT group_rep, count(*) AS group_size
                  FROM groups GROUP BY group_rep) c USING (group_rep)
            ORDER BY g.doc_id
        """,
        "q_semi_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_totalprice > 150000)
            ORDER BY c_custkey
        """,
        "q_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_pivot": """
            SELECT user_id,
                   CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
                   CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
                   CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
                   CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
                   CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
            FROM events GROUP BY user_id ORDER BY user_id
        """,
        "q_sliding_window": """
            SELECT time_bucket(INTERVAL '10 minutes', ts)
                       - k.k * INTERVAL '10 minutes' AS win_start,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS total_value
            FROM events
            CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        # Replays connected-components grouping (stage 5+6 of
        # canonicalization) over the Spark-exported surface forms +
        # SequenceMatcher-verified pairs: transitive closure via a
        # recursive CTE, count distinct min-labels per type.
        "kg_canon_counts": f"""
            WITH RECURSIVE forms AS (
                SELECT entity_type, form_norm
                FROM '{_KG_CANON_FORMS_PATH}/*.parquet'
            ), pairs AS (
                SELECT entity_type, lhs, rhs
                FROM '{_KG_CANON_PAIRS_PATH}/*.parquet'
            ), sym AS (
                SELECT entity_type, lhs AS a, rhs AS b FROM pairs
                UNION
                SELECT entity_type, rhs AS a, lhs AS b FROM pairs
            ), reach AS (
                SELECT entity_type, a AS src, a AS node FROM sym
                UNION
                SELECT r.entity_type, r.src, s.b AS node
                FROM reach r JOIN sym s
                  ON r.entity_type = s.entity_type AND r.node = s.a
            ), labels AS (
                SELECT entity_type, src AS form_norm, min(node) AS label
                FROM reach GROUP BY entity_type, src
            ), all_labels AS (
                SELECT f.entity_type, f.form_norm,
                       coalesce(l.label, f.form_norm) AS label
                FROM forms f LEFT JOIN labels l
                  USING (entity_type, form_norm)
            )
            SELECT entity_type,
                   CAST(count(DISTINCT label) AS BIGINT) AS n_entities
            FROM all_labels GROUP BY entity_type ORDER BY entity_type
        """,
        # Replays the whole of operators/triples.py's set logic from the
        # Spark-exported extraction candidates + canonical tables:
        # inference from JSON attrs, alias-normalization + whitelist,
        # singular→plural endpoint mapping, resolution joins,
        # (pred, subj, obj) dedup.
        "kg_edge_replay": f"""
            WITH rels AS (
                SELECT * FROM '{_KG_REPLAY_RELS_PATH}/*.parquet'
            ), ents AS (
                SELECT * FROM '{_KG_REPLAY_ENTS_PATH}/*.parquet'
            ), res AS (
                SELECT * FROM '{_KG_REPLAY_RES_PATH}/*.parquet'
            ), member_of AS (
                SELECT 'MEMBER_OF' AS rel_type,
                       'person' AS from_entity_type,
                       canonical_name AS from_entity_name,
                       'band' AS to_entity_type,
                       unnest(CAST(attrs_json->'$.associated_bands'
                                   AS VARCHAR[])) AS to_entity_name
                FROM ents WHERE entity_type = 'people'
            ), released AS (
                SELECT 'RELEASED', 'band',
                       json_extract_string(attrs_json, '$.artist'),
                       'album', canonical_name
                FROM ents WHERE entity_type = 'albums'
                  AND json_extract_string(attrs_json, '$.artist') IS NOT NULL
            ), contains_track AS (
                SELECT 'CONTAINS_TRACK', 'album',
                       json_extract_string(attrs_json, '$.album'),
                       'song', canonical_name
                FROM ents WHERE entity_type = 'songs'
                  AND json_extract_string(attrs_json, '$.album') IS NOT NULL
            ), cand AS (
                SELECT rel_type, from_entity_type, from_entity_name,
                       to_entity_type, to_entity_name FROM rels
                UNION ALL SELECT * FROM member_of
                UNION ALL SELECT * FROM released
                UNION ALL SELECT * FROM contains_track
            ), norm AS (
                SELECT * FROM (
                    SELECT {_alias_case} AS pred,
                           {_plural_case('from_entity_type')} AS subj_etype,
                           lower(trim(from_entity_name)) AS subj_norm,
                           {_plural_case('to_entity_type')} AS obj_etype,
                           lower(trim(to_entity_name)) AS obj_norm
                    FROM cand
                ) WHERE pred IN ({_whitelist})
            ), resolved AS (
                SELECT DISTINCT n.pred,
                       rs.canonical_id AS subj_id, ro.canonical_id AS obj_id
                FROM norm n
                JOIN res rs ON rs.entity_type = n.subj_etype
                           AND rs.form_norm = n.subj_norm
                JOIN res ro ON ro.entity_type = n.obj_etype
                           AND ro.form_norm = n.obj_norm
            )
            SELECT pred, count(*) AS n_edges,
                   count(DISTINCT subj_id) AS n_subjects,
                   count(DISTINCT obj_id) AS n_objects
            FROM resolved GROUP BY pred ORDER BY pred
        """,
        # Replays validate.orphan_nodes' NOT-EXISTS decision over the
        # exported entity-id / edge-endpoint tables.
        "kg_orphans": f"""
            WITH ents AS (
                SELECT * FROM '{_KG_ORPHAN_ENTS_PATH}/*.parquet'
            ), eids AS (
                SELECT subj_id AS id FROM '{_KG_ORPHAN_EDGES_PATH}/*.parquet'
                UNION
                SELECT obj_id FROM '{_KG_ORPHAN_EDGES_PATH}/*.parquet'
            )
            SELECT entity_type,
                   count(*) AS n_orphans,
                   min(canonical_name) AS first_orphan
            FROM ents e
            WHERE NOT EXISTS (SELECT 1 FROM eids WHERE eids.id = e.canonical_id)
            GROUP BY entity_type ORDER BY entity_type
        """,
        # kg_canon_counts' transitive-closure replay, extended with the
        # mention mass: Σ n_mentions per type is invariant under the
        # grouping (merge_rules sums the group's form counts), so the
        # closure must reproduce both columns.
        "kg_entity_counts": f"""
            WITH RECURSIVE forms AS (
                SELECT entity_type, form_norm, n_mentions
                FROM '{_KG_EC_FORMS_PATH}/*.parquet'
            ), pairs AS (
                SELECT entity_type, lhs, rhs
                FROM '{_KG_EC_PAIRS_PATH}/*.parquet'
            ), sym AS (
                SELECT entity_type, lhs AS a, rhs AS b FROM pairs
                UNION
                SELECT entity_type, rhs AS a, lhs AS b FROM pairs
            ), reach AS (
                SELECT entity_type, a AS src, a AS node FROM sym
                UNION
                SELECT r.entity_type, r.src, s.b AS node
                FROM reach r JOIN sym s
                  ON r.entity_type = s.entity_type AND r.node = s.a
            ), labels AS (
                SELECT entity_type, src AS form_norm, min(node) AS label
                FROM reach GROUP BY entity_type, src
            ), all_labels AS (
                SELECT f.entity_type, f.form_norm, f.n_mentions,
                       coalesce(l.label, f.form_norm) AS label
                FROM forms f LEFT JOIN labels l
                  USING (entity_type, form_norm)
            )
            SELECT entity_type,
                   CAST(count(DISTINCT label) AS BIGINT) AS n_entities,
                   CAST(sum(n_mentions) AS BIGINT) AS n_mentions
            FROM all_labels GROUP BY entity_type ORDER BY entity_type
        """,
        # kg_edge_replay's full triples.py replay, extended to the edge
        # LIST with names + exact n_sources: resolution carries the
        # canonical names, and n_sources re-derives the engine's
        # edge_key = md5(pred|subj_id|obj_id) over the exported
        # committed provenance pairs.
        "kg_triples": _full_edges_oracle(
            _KG_TRIPLES_RELS_PATH, _KG_TRIPLES_ENTS_PATH,
            _KG_TRIPLES_RES_PATH, _KG_TRIPLES_PROV_PATH),
        # the composed WARC-ingest demo lands on the SAME independently
        # re-derived edge set, from its own fresh exports
        "q_warc_pipeline": _full_edges_oracle(
            _WP_RELS_PATH, _WP_ENTS_PATH,
            _WP_RES_PATH, _WP_PROV_PATH),
        # Read-side slice over an INDEPENDENTLY re-derived edge list
        # (the full triples.py replay over this query's own exports).
        "kg_album_tracks": f"""
            WITH {_edge_replay_cte(_KG_AT_RELS_PATH, _KG_AT_ENTS_PATH,
                                   _KG_AT_RES_PATH)}
            SELECT subj_name AS album, obj_name AS track
            FROM resolved
            WHERE pred = 'CONTAINS_TRACK'
            ORDER BY album, track
        """,
        # Same re-derived edge list; replays the undirected
        # least/greatest pair normalization, the sorted-distinct
        # predicate list, and the per-pair link count.
        "kg_cooccurrence": f"""
            WITH {_edge_replay_cte(_KG_CO_RELS_PATH, _KG_CO_ENTS_PATH,
                                   _KG_CO_RES_PATH)}
            SELECT least(subj_name, obj_name) AS band1,
                   greatest(subj_name, obj_name) AS band2,
                   array_to_string(list_sort(list_distinct(list(pred))),
                                   ',') AS predicates,
                   CAST(count(*) AS BIGINT) AS n_links
            FROM resolved
            WHERE pred IN ('MENTIONED_WITH', 'CONTEMPORARY_OF')
            GROUP BY band1, band2
            ORDER BY band1, band2
        """,
        # Transitive closure over the verified-pair graph (the
        # kg_canon_counts pattern) + canonical-name ELECTION by the
        # pinned (first_seen, form_norm) total order (merge_rules
        # first-dict-wins), member-form count, distinct-variation
        # count, multi-form filter.
        "kg_dedup_variants": f"""
            WITH RECURSIVE forms AS (
                SELECT entity_type, form_norm, first_seen, first_name
                FROM '{_KG_DV_FORMS_PATH}/*.parquet'
            ), vars AS (
                SELECT entity_type, form_norm, variation
                FROM '{_KG_DV_VARS_PATH}/*.parquet'
            ), pairs AS (
                SELECT entity_type, lhs, rhs
                FROM '{_KG_DV_PAIRS_PATH}/*.parquet'
            ), sym AS (
                SELECT entity_type, lhs AS a, rhs AS b FROM pairs
                UNION
                SELECT entity_type, rhs AS a, lhs AS b FROM pairs
            ), reach AS (
                SELECT entity_type, a AS src, a AS node FROM sym
                UNION
                SELECT r.entity_type, r.src, s.b AS node
                FROM reach r JOIN sym s
                  ON r.entity_type = s.entity_type AND r.node = s.a
            ), labels AS (
                SELECT entity_type, src AS form_norm, min(node) AS label
                FROM reach GROUP BY entity_type, src
            ), member AS (
                SELECT f.entity_type, f.form_norm, f.first_seen,
                       f.first_name,
                       coalesce(l.label, f.form_norm) AS label
                FROM forms f LEFT JOIN labels l
                  USING (entity_type, form_norm)
            ), elected AS (
                SELECT entity_type, label, first_name AS canonical_name
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY entity_type, label
                          ORDER BY first_seen, form_norm) AS rk
                      FROM member)
                WHERE rk = 1
            ), sized AS (
                SELECT m.entity_type, m.label,
                       CAST(count(*) AS BIGINT) AS n_forms
                FROM member m GROUP BY m.entity_type, m.label
            ), varcount AS (
                SELECT m.entity_type, m.label,
                       CAST(count(DISTINCT v.variation) AS BIGINT)
                           AS n_variations
                FROM member m JOIN vars v
                  USING (entity_type, form_norm)
                GROUP BY m.entity_type, m.label
            )
            SELECT e.entity_type, e.canonical_name, s.n_forms,
                   coalesce(v.n_variations, 0) AS n_variations
            FROM elected e
            JOIN sized s USING (entity_type, label)
            LEFT JOIN varcount v USING (entity_type, label)
            WHERE s.n_forms > 1
            ORDER BY e.entity_type, e.canonical_name
        """,
        # Undirected transitive closure over the exported entity-edge
        # endpoints; min reachable node = graph_components' union-find
        # root convention.
        "kg_components": f"""
            WITH RECURSIVE e AS (
                SELECT subj_id AS a, obj_id AS b
                FROM '{_KG_COMP_EDGES_PATH}/*.parquet'
                WHERE subj_id <> obj_id
            ), sym AS (
                SELECT a, b FROM e UNION SELECT b, a FROM e
            ), reach AS (
                SELECT a AS src, a AS node FROM sym
                UNION
                SELECT r.src, s.b AS node
                FROM reach r JOIN sym s ON r.node = s.a
            ), labels AS (
                SELECT src AS node_id, min(node) AS component_id
                FROM reach GROUP BY src
            )
            SELECT component_id, CAST(count(*) AS BIGINT) AS n_nodes
            FROM labels GROUP BY component_id
            ORDER BY n_nodes DESC, component_id
        """,
        # Independent aggregation of the FRESH chunk recompute exported
        # by the entry (chunk_pages over the deterministic source
        # pages) — the store-read Spark side must match it exactly.
        "kg_chunk_stats": f"""
            SELECT url, count(*) AS n_chunks,
                   CAST(sum(char_count) AS BIGINT) AS total_chars
            FROM '{_KG_CS_CHUNKS_PATH}/*.parquet'
            GROUP BY url ORDER BY url
        """,
        # q_pagerank's chained-CTE BIGINT replay pointed at the REAL
        # entity graph (8 iterations), names attached, top-20 cut.
        "kg_pagerank": _pagerank_oracle(
            n_iters=8, damping=85, scale=10**12,
            edges_sql=f"""edges AS (
                SELECT DISTINCT subj_id AS src, obj_id AS dst
                FROM '{_KG_PR_EDGES_PATH}/*.parquet'
                WHERE subj_id <> obj_id
            )""",
            final_sql=f"""
            SELECT r8.node AS node_id, r8.r AS rank_fixed, n.canonical_name
            FROM r8 JOIN '{_KG_PR_NAMES_PATH}/*.parquet' n
              ON n.node_id = r8.node
            ORDER BY rank_fixed DESC, node_id LIMIT 20""",
        ),
        # q_betweenness's min-parent shortest-path-tree replay pointed
        # at the REAL entity graph: 16 smallest-id sources, depth ≤ 6,
        # interior-node counts, top-20 (betweenness DESC, node_id).
        "kg_betweenness": f"""
            WITH RECURSIVE e AS (
                SELECT subj_id AS x, obj_id AS y
                FROM '{_KG_BT_EDGES_PATH}/*.parquet'
                WHERE subj_id <> obj_id
            ),
            und AS (
                SELECT x AS a, y AS b FROM e
                UNION
                SELECT y AS a, x AS b FROM e
            ),
            srcs AS (
                SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 16
            ),
            walk(s, node, hops) AS (
                SELECT s, s, CAST(0 AS BIGINT) FROM srcs
                UNION
                SELECT walk.s, und.b, walk.hops + 1
                FROM walk JOIN und ON und.a = walk.node
                WHERE walk.hops < 6
            ),
            dist AS (
                SELECT s, node, min(hops) AS d FROM walk GROUP BY s, node
            ),
            parents AS (
                SELECT c.s, c.node, min(p.node) AS parent
                FROM dist c
                JOIN und ON und.b = c.node
                JOIN dist p ON p.s = c.s AND p.node = und.a
                             AND p.d = c.d - 1
                WHERE c.d > 0
                GROUP BY c.s, c.node
            ),
            chain(s, dst, cur) AS (
                SELECT s, node, parent FROM parents WHERE parent <> s
                UNION
                SELECT c.s, c.dst, p.parent
                FROM chain c
                JOIN parents p ON p.s = c.s AND p.node = c.cur
                WHERE p.parent <> c.s
            )
            SELECT cur AS node_id, count(*) AS betweenness
            FROM chain GROUP BY cur
            ORDER BY betweenness DESC, node_id LIMIT 20
        """,
        # Independent path enumeration with the name chain built inside
        # the recursion; min-name-per-node dim, per-predicate
        # (hops DESC, chain_str) top-10 — longest_chains' exact cut.
        "kg_path_analysis": f"""
            WITH RECURSIVE pe AS (
                SELECT * FROM '{_KG_PA_EDGES_PATH}/*.parquet'
            ),
            e AS (
                SELECT DISTINCT pred, subj_id AS src, obj_id AS dst
                FROM pe WHERE subj_id <> obj_id
            ),
            names AS (
                SELECT pred, node, min(name) AS name FROM (
                    SELECT pred, subj_id AS node, subj_name AS name FROM pe
                    UNION ALL
                    SELECT pred, obj_id, obj_name FROM pe
                ) GROUP BY pred, node
            ),
            walk(pred, dst, path, chain_str, hops) AS (
                SELECT e.pred, e.dst, [e.src, e.dst],
                       ns.name || ' -> ' || nd.name, CAST(1 AS BIGINT)
                FROM e
                JOIN names ns ON ns.pred = e.pred AND ns.node = e.src
                JOIN names nd ON nd.pred = e.pred AND nd.node = e.dst
                UNION ALL
                SELECT w.pred, e.dst, list_append(w.path, e.dst),
                       w.chain_str || ' -> ' || nd.name, w.hops + 1
                FROM walk w
                JOIN e ON e.pred = w.pred AND e.src = w.dst
                JOIN names nd ON nd.pred = e.pred AND nd.node = e.dst
                WHERE w.hops < 4 AND NOT list_contains(w.path, e.dst)
            )
            SELECT pred, hops, chain_str FROM (
                SELECT pred, hops, chain_str,
                       row_number() OVER (
                           PARTITION BY pred
                           ORDER BY hops DESC, chain_str
                       ) AS rn
                FROM walk
            ) WHERE rn <= 10
            ORDER BY pred, hops DESC, chain_str
        """,
        # Full rule replay over the RAW exported entity rows, including
        # the attrs_json unpacking the Spark side does via from_json.
        "kg_validation": f"""
            WITH ents AS (
                SELECT * FROM '{_KG_VAL_ENTS_PATH}/*.parquet'
            ),
            b AS (
                SELECT canonical_name,
                       CASE WHEN json_valid(attrs_json) THEN TRY_CAST(
                           json_extract_string(attrs_json, '$.formed_year')
                           AS INTEGER) END AS formed_year,
                       CASE WHEN json_valid(attrs_json) THEN
                           json_extract_string(attrs_json, '$.origin_city')
                           END AS origin_city,
                       CASE WHEN json_valid(attrs_json) THEN
                           json_extract_string(attrs_json, '$.origin_country')
                           END AS origin_country
                FROM ents WHERE entity_type = 'bands'
            ),
            al AS (
                SELECT canonical_name,
                       CASE WHEN json_valid(attrs_json) THEN TRY_CAST(
                           json_extract_string(attrs_json, '$.release_year')
                           AS INTEGER) END AS release_year,
                       CASE WHEN json_valid(attrs_json) THEN
                           json_extract_string(attrs_json, '$.artist')
                           END AS artist
                FROM ents WHERE entity_type = 'albums'
            ),
            p AS (
                SELECT canonical_name,
                       CASE WHEN json_valid(attrs_json) THEN
                           json_array_length(attrs_json, '$.instruments')
                           END AS n_instr,
                       CASE WHEN json_valid(attrs_json) THEN
                           json_array_length(attrs_json, '$.associated_bands')
                           END AS n_ab
                FROM ents WHERE entity_type = 'people'
            ),
            g AS (
                SELECT name_norm FROM ents WHERE entity_type = 'subgenres'
            ),
            issues AS (
                SELECT 'bands' AS entity_type, 'error' AS severity,
                       'missing_name' AS rule FROM b
                WHERE canonical_name IS NULL OR trim(canonical_name) = ''
                UNION ALL SELECT 'bands', 'error', 'year_out_of_range' FROM b
                WHERE formed_year IS NOT NULL
                  AND formed_year NOT BETWEEN 1960 AND 2026
                UNION ALL SELECT 'bands', 'warning', 'missing_formed_year'
                FROM b WHERE formed_year IS NULL
                UNION ALL SELECT 'bands', 'warning', 'missing_origin' FROM b
                WHERE origin_city IS NULL AND origin_country IS NULL
                UNION ALL SELECT 'bands', 'warning', 'name_too_long' FROM b
                WHERE length(canonical_name) > 100
                UNION ALL SELECT 'albums', 'error', 'year_out_of_range'
                FROM al WHERE release_year IS NOT NULL
                  AND release_year NOT BETWEEN 1968 AND 2026
                UNION ALL SELECT 'albums', 'warning', 'missing_artist'
                FROM al WHERE artist IS NULL
                UNION ALL SELECT 'albums', 'warning', 'missing_release_year'
                FROM al WHERE release_year IS NULL
                UNION ALL SELECT 'people', 'warning', 'no_instruments'
                FROM p WHERE coalesce(n_instr, 0) = 0
                UNION ALL SELECT 'people', 'warning', 'no_associated_bands'
                FROM p WHERE coalesce(n_ab, 0) = 0
                UNION ALL SELECT 'subgenres', 'warning', 'unknown_subgenre'
                FROM g WHERE name_norm NOT IN (
                    'heavy metal', 'thrash metal', 'doom metal',
                    'black metal', 'death metal', 'power metal',
                    'speed metal', 'groove metal', 'progressive metal',
                    'hard rock')
                UNION ALL SELECT entity_type, 'error', 'duplicate_name'
                FROM (
                    SELECT entity_type, name_norm FROM ents
                    GROUP BY entity_type, name_norm HAVING count(*) > 1
                )
            )
            SELECT entity_type, severity, rule, count(*) AS n
            FROM issues GROUP BY entity_type, severity, rule
            ORDER BY entity_type, severity, rule
        """,
        # From-scratch replay of plans/quality.triple_prf: variation-set
        # triple matching + P/R/F1 in integer micro-units.
        "kg_quality": f"""
            WITH e AS (SELECT * FROM '{_KG_QL_EDGES_PATH}/*.parquet'),
            t AS (
                SELECT DISTINCT pred, lower(trim(subj_name)) AS subj,
                       lower(trim(obj_name)) AS obj
                FROM '{_KG_QL_TRUTH_PATH}/*.parquet'
            ),
            v AS (SELECT * FROM '{_KG_QL_VARS_PATH}/*.parquet'),
            m AS (
                SELECT e.edge_key, t.pred, t.subj, t.obj
                FROM e
                JOIN v sv ON sv.canonical_id = e.subj_id
                JOIN v ov ON ov.canonical_id = e.obj_id
                JOIN t ON e.pred = t.pred AND sv.var = t.subj
                      AND ov.var = t.obj
            ),
            c AS (
                SELECT
                    (SELECT count(DISTINCT edge_key) FROM e) AS n_edges,
                    (SELECT count(*) FROM t) AS n_truth,
                    (SELECT count(DISTINCT edge_key) FROM m) AS me,
                    (SELECT count(*) FROM
                        (SELECT DISTINCT pred, subj, obj FROM m)) AS mt
            ),
            mic AS (
                SELECT n_edges, n_truth, me, mt,
                    CASE WHEN n_edges > 0
                         THEN (1000000 * me) // n_edges ELSE 0 END AS pm,
                    CASE WHEN n_truth > 0
                         THEN (1000000 * mt) // n_truth ELSE 0 END AS rm
                FROM c
            )
            SELECT CAST(pm AS BIGINT) AS precision_micro,
                   CAST(rm AS BIGINT) AS recall_micro,
                   CAST(CASE WHEN pm + rm > 0
                        THEN (2 * pm * rm) // (pm + rm)
                        ELSE 0 END AS BIGINT) AS f1_micro,
                   CAST(n_edges AS BIGINT) AS n_edges,
                   CAST(n_truth AS BIGINT) AS n_truth,
                   CAST(me AS BIGINT) AS matched_edges,
                   CAST(mt AS BIGINT) AS matched_truth
            FROM mic
        """,
        # Independent replay of the hybrid merge over the exported full
        # semantic score table + entity dim: top-k·3 semantic cut,
        # keyword tiers, full-outer 0.7/0.3 blend, name-joined top-k.
        "kg_hybrid_search": f"""
            WITH s AS (SELECT * FROM '{_KG_HS_SCORES_PATH}/*.parquet'),
            d AS (SELECT * FROM '{_KG_HS_ENTS_PATH}/*.parquet'),
            sem AS (
                SELECT canonical_id, cosine AS semantic_score FROM s
                ORDER BY cosine DESC, canonical_id LIMIT 15
            ),
            kw AS (
                SELECT canonical_id,
                       CASE WHEN name_norm = 'sabbath' THEN 1.0
                            WHEN starts_with(name_norm, 'sabbath') THEN 0.8
                            ELSE 0.5 END AS keyword_score
                FROM d WHERE contains(name_norm, 'sabbath')
            ),
            merged AS (
                SELECT coalesce(sem.canonical_id, kw.canonical_id)
                           AS canonical_id,
                       coalesce(semantic_score, 0.0) AS semantic_score,
                       coalesce(keyword_score, 0.0) AS keyword_score
                FROM sem FULL OUTER JOIN kw
                  ON sem.canonical_id = kw.canonical_id
            )
            SELECT d.entity_type, d.canonical_name,
                   round(0.7 * semantic_score + 0.3 * keyword_score, 6)
                       AS final_score
            FROM merged m JOIN d ON d.canonical_id = m.canonical_id
            ORDER BY final_score DESC, canonical_name LIMIT 5
        """,
        # Context left-join + tiered explanation + find_similar boost
        # replay over the exported hybrid hits and 1-hop context dim.
        "kg_intent_search": f"""
            WITH h AS (SELECT * FROM '{_KG_IS_HITS_PATH}/*.parquet'),
            c AS (SELECT * FROM '{_KG_IS_CTX_PATH}/*.parquet'),
            e AS (
                SELECT h.entity_type, h.canonical_name, h.final_score,
                       c.genres, c.n_members
                FROM h LEFT JOIN c ON c.canonical_id = h.canonical_id
            )
            SELECT entity_type, canonical_name,
                   'find_similar' AS intent,
                   round(final_score * 1.0, 6) AS combined_score,
                   concat_ws(' | ',
                       CASE WHEN final_score > 0.8
                                THEN 'Very high semantic similarity'
                            WHEN final_score > 0.6
                                THEN 'Strong semantic match'
                            WHEN final_score > 0.4
                                THEN 'Moderate semantic match' END,
                       'Similar musical style and characteristics',
                       CASE WHEN genres IS NOT NULL AND len(genres) > 0
                            THEN 'Genres: '
                                 || array_to_string(genres[1:3], ', ') END,
                       CASE WHEN n_members IS NOT NULL
                            THEN CAST(n_members AS VARCHAR)
                                 || ' known members' END
                   ) AS explanation,
                   CASE WHEN genres IS NULL THEN ''
                        ELSE array_to_string(genres, ',') END AS genres,
                   n_members
            FROM e ORDER BY combined_score DESC, canonical_name LIMIT 5
        """,
        # F1 re-derived from scratch (the kg_quality replay, float
        # arithmetic — both engines divide the same BIGINT counts) +
        # MRR@10 first-relevant-rank replay + export-derived counts.
        "kg_monitor": f"""
            WITH e AS (SELECT * FROM '{_KG_MON_EDGES_PATH}/*.parquet'),
            t AS (
                SELECT DISTINCT pred, lower(trim(subj_name)) AS subj,
                       lower(trim(obj_name)) AS obj
                FROM '{_KG_MON_TRUTH_PATH}/*.parquet'
            ),
            v AS (SELECT * FROM '{_KG_MON_VARS_PATH}/*.parquet'),
            m AS (
                SELECT e.edge_key, t.pred, t.subj, t.obj
                FROM e
                JOIN v sv ON sv.canonical_id = e.subj_id
                JOIN v ov ON ov.canonical_id = e.obj_id
                JOIN t ON e.pred = t.pred AND sv.var = t.subj
                      AND ov.var = t.obj
            ),
            c AS (
                SELECT
                    (SELECT count(*) FROM e) AS n_edge_rows,
                    (SELECT count(DISTINCT canonical_id) FROM v) AS n_ents,
                    (SELECT count(DISTINCT edge_key) FROM e) AS ne,
                    (SELECT count(*) FROM t) AS nt,
                    (SELECT count(DISTINCT edge_key) FROM m) AS me,
                    (SELECT count(*) FROM
                        (SELECT DISTINCT pred, subj, obj FROM m)) AS mt
            ),
            pr AS (
                SELECT n_edge_rows, n_ents,
                    CASE WHEN ne > 0 THEN CAST(me AS DOUBLE) / ne
                         ELSE 0.0 END AS p,
                    CASE WHEN nt > 0 THEN CAST(mt AS DOUBLE) / nt
                         ELSE 0.0 END AS r
                FROM c
            ),
            lab AS (
                SELECT DISTINCT query_id, canonical_name
                FROM '{_KG_MON_LABELS_PATH}/*.parquet'
            ),
            topk AS (
                SELECT query_id, canonical_name, rank
                FROM '{_KG_MON_RANKING_PATH}/*.parquet' WHERE rank <= 10
            ),
            firsts AS (
                SELECT k.query_id, min(k.rank) AS fr
                FROM topk k JOIN lab
                  ON lab.query_id = k.query_id
                 AND lab.canonical_name = k.canonical_name
                GROUP BY k.query_id
            ),
            qs AS (SELECT DISTINCT query_id FROM lab),
            rr AS (
                SELECT q.query_id, coalesce(1.0 / f.fr, 0.0) AS rr
                FROM qs q LEFT JOIN firsts f ON f.query_id = q.query_id
            ),
            mrr AS (SELECT round(avg(rr), 4) AS search_mrr FROM rr)
            SELECT CAST(n_ents AS BIGINT) AS n_entities,
                   CAST(n_edge_rows AS BIGINT) AS n_edges,
                   CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                        ELSE 0.0 END AS f1,
                   search_mrr
            FROM pr, mrr
        """,
        # Broadcast-join + city-filter replay over the exported
        # FORMED_IN endpoints and location dim.
        "kg_birmingham": f"""
            SELECT e.subj_name AS band, l.canonical_name AS city,
                   e.n_sources
            FROM '{_KG_BHAM_EDGES_PATH}/*.parquet' e
            JOIN '{_KG_BHAM_LOCS_PATH}/*.parquet' l
              ON e.obj_id = l.canonical_id
            WHERE l.canonical_name = 'Birmingham'
            ORDER BY band
        """,
        "q_shard_stats": """
            SELECT CAST(('0x' || substr(md5('shard:2|' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                        % 1000000 % 8 AS INT) AS shard,
                   count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
                   min(doc_id) AS min_doc, max(doc_id) AS max_doc
            FROM documents GROUP BY 1
        """,
        # Replays the redaction chain with the SAME pattern strings
        # (common Java-regex/RE2 subset): counts are taken on the text
        # as it stands after the previous class's replacement, exactly
        # as operators/scrub.py chains them.
        "q_pii_redact": r"""
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
                       || CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                       || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
                       AS t
                FROM documents
            ), s1 AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
                FROM aug
            ), s2 AS (
                SELECT doc_id, n_email,
                       CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
                       regexp_replace(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t
                FROM s1
            ), s3 AS (
                SELECT doc_id, n_email, n_phone,
                       CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
                       regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
                FROM s2
            )
            SELECT doc_id, n_email, n_phone, n_ipv4, sha256(t) AS redacted_sha
            FROM s3
        """,
        # Gram construction replay: string_split keeps empty words for
        # consecutive spaces exactly like Spark split with the default
        # -1 limit; list_slice(w, i, i+4) is the 5-gram at 1-based i.
        "q_contamination": """
            WITH words AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS g
                FROM words, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS t(i)
            ), bench AS (
                SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0
            ), per_doc AS (
                SELECT grams.doc_id,
                       count(*) AS n_grams,
                       sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
                FROM grams LEFT JOIN bench USING (g)
                GROUP BY grams.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
                   coalesce(n_hit, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN per_doc USING (doc_id)
        """,
        # Same md5 shard hash as q_shard_stats; the window cumsum is
        # over non-negative integers so DuckDB's flooring // and
        # Spark's truncating div agree.
        "q_pack_stats": """
            WITH toks AS (
                SELECT doc_id,
                       CAST(CAST(('0x' || substr(md5('shard:0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                            % 1000000 % 8 AS INT) AS shard,
                       greatest(len(string_split(text, ' ')), 1) AS n_tokens
                FROM documents
            ), packed AS (
                SELECT doc_id, shard, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS start
                FROM toks
            )
            SELECT doc_id, shard,
                   CAST(start // 512 AS BIGINT) AS seq_first,
                   CAST(start % 512 AS BIGINT) AS offset_in_seq,
                   CAST((start + n_tokens - 1) // 512 - start // 512 + 1 AS BIGINT) AS n_seqs
            FROM packed
        """,
        # Replays operators/urlnorm.canonical_url rule by rule; the
        # regexes are the module's own constants (common Java/RE2
        # subset, no replacement backreferences).
        "q_url_canon": r"""
            WITH urls AS (
                SELECT doc_id,
                    CASE CAST(doc_id % 5 AS INT)
                      WHEN 0 THEN 'HTTP://Example.COM:80/Path/' || CAST(doc_id AS VARCHAR) || '/?b=2&utm_source=x&a=1#frag'
                      WHEN 1 THEN 'https://CDN.Example.org:443/assets?z=9&y=8&fbclid=abc123'
                      WHEN 2 THEN 'https://example.com/shared/page/'
                      WHEN 3 THEN 'http://site' || CAST(doc_id % 7 AS VARCHAR) || '.net/p?id=' || CAST(doc_id AS VARCHAR) || '&ref=home'
                      ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
                    END AS url
                FROM documents
            ), rawparts AS (
                SELECT doc_id, url,
                    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth_raw,
                    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS raw_path,
                    list_sort(list_filter(
                        string_split(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '&'),
                        x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|msclkid|ref)(=|$)')
                    )) AS params
                FROM urls
            ), parts AS (
                SELECT doc_id, url, scheme, raw_path, params,
                    -- userinfo keeps its case; only host:port lowers
                    regexp_extract(auth_raw, '^(.*@)', 1)
                      || lower(regexp_extract(auth_raw, '^(?:.*@)?([^@]*)$', 1)) AS authority
                FROM rawparts
            ), built AS (
                SELECT doc_id, url, scheme,
                    CASE WHEN scheme = 'http' THEN regexp_replace(authority, ':80$', '')
                         WHEN scheme = 'https' THEN regexp_replace(authority, ':443$', '')
                         ELSE authority END AS host,
                    CASE WHEN raw_path = '' THEN '/'
                         WHEN length(raw_path) > 1 AND raw_path LIKE '%/' THEN substr(raw_path, 1, length(raw_path) - 1)
                         ELSE raw_path END AS path,
                    CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END AS query
                FROM parts
            )
            SELECT doc_id,
                   CASE WHEN scheme = '' THEN url
                        ELSE scheme || '://' || host || path || query END AS canonical_url
            FROM built
        """,
        # Per-column replay of the one-scan profile (exact mode).
        "q_profile": """
            SELECT 'doc_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
                   CAST(min(doc_id) AS VARCHAR) AS min_value,
                   CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
            UNION ALL
            SELECT 'text', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(text) AS BIGINT),
                   CAST(count(DISTINCT text) AS BIGINT),
                   CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'lang', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(lang) AS BIGINT),
                   CAST(count(DISTINCT lang) AS BIGINT),
                   CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'source', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(source) AS BIGINT),
                   CAST(count(DISTINCT source) AS BIGINT),
                   CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR) FROM documents
            UNION ALL
            SELECT 'n_chars', CAST(count(*) AS BIGINT),
                   CAST(count(*) - count(n_chars) AS BIGINT),
                   CAST(count(DISTINCT n_chars) AS BIGINT),
                   CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR) FROM documents
        """,
        # Replays the hyperplane sign-bucket assignment over the
        # Spark-exported plane bank. list_reduce over a 0.0-prepended
        # product list is the same left-to-right double fold as
        # Spark's F.aggregate(zip_with(*, ...), 0.0, +) — bit-exact.
        "q_lsh_buckets": f"""
            WITH planes AS (
                SELECT * FROM '{_LSH_PLANES_PATH}/*.parquet'
            ), bits AS (
                SELECT e.vec_id, p.tbl,
                       CASE WHEN list_reduce(
                              list_prepend(0.0, list_transform(
                                  generate_series(1, len(p.components)),
                                  i -> e.embedding[i]::DOUBLE * p.components[i])),
                              (a, b) -> a + b) >= 0
                            THEN 1 ELSE 0 END AS bit,
                       p.plane_idx
                FROM embeddings e, planes p
            ), assigned AS (
                SELECT vec_id, tbl,
                       CAST(sum(bit * (1::BIGINT << (7 - plane_idx))) AS BIGINT) AS bucket
                FROM bits GROUP BY vec_id, tbl
            )
            SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS n_vecs,
                   min(vec_id) AS min_id
            FROM assigned GROUP BY tbl, bucket
        """,
        # IVF decision oracle: trusts the EXPORTED deterministic index
        # (centroids + assignments — k-means itself is pinned by
        # q_ivf_fullprobe's completeness gate and pytest trajectory
        # tests) and replays the SEARCH decision: centroid ranking via
        # the same left-fold dot over the same doubles (bit-exact, as
        # q_lsh_buckets), nprobe=3 list selection, exact cosine
        # re-rank at 4dp (the proven q_cosine_topk formula).
        "td_ivf_topk": f"""
            WITH q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ), qn AS (
                SELECT qv, list_transform(qv, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(qv, y -> y * y)),
                           (a, b) -> a + b))) AS qu
                FROM q
            ), cent AS (
                SELECT * FROM '{_IVF_CENTROIDS_PATH}/*.parquet'
            ), ranked AS (
                SELECT c.cluster,
                       row_number() OVER (ORDER BY list_reduce(
                           list_prepend(0.0, list_transform(
                               generate_series(1, len(c.centroid)),
                               i -> qn.qu[i] * c.centroid[i])),
                           (a, b) -> a + b) DESC, c.cluster) AS rk
                FROM cent c, qn
            ), probe AS (
                SELECT cluster FROM ranked WHERE rk <= 3
            ), asg AS (
                SELECT * FROM '{_IVF_ASSIGN_PATH}/*.parquet'
            )
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cosine
            FROM embeddings e
            JOIN asg ON e.vec_id = asg.vec_id
            JOIN probe ON asg.cluster = probe.cluster
            CROSS JOIN q
            ORDER BY cosine DESC, e.vec_id
            LIMIT 10
        """,
        # PQ/ADC full replay: only the codebook is exported; encoding
        # (argmin over bit-exact squared-L2 left-folds, ties → lowest
        # code), the query LUT, and the subspace-ordered score fold
        # are all recomputed in SQL. ds=16 (d=64, m=4).
        "td_pq_topk": f"""
            WITH cb AS (
                SELECT * FROM '{_PQ_CODEBOOK_PATH}/*.parquet'
            ), q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ), qn AS (
                SELECT list_transform(qv, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(qv, y -> y * y)),
                           (a, b) -> a + b))) AS qu
                FROM q
            ), unitv AS (
                SELECT vec_id,
                       list_transform(v, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(v, y -> y * y)),
                           (a, b) -> a + b))) AS u
                FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            ), dists AS (
                SELECT uv.vec_id, cb.sub, cb.code,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 16),
                           i -> (uv.u[cb.sub * 16 + i] - cb.centroid[i])
                              * (uv.u[cb.sub * 16 + i] - cb.centroid[i]))),
                           (a, b) -> a + b) AS dist
                FROM unitv uv, cb
            ), assigned AS (
                SELECT vec_id, sub, code FROM (
                    SELECT vec_id, sub, code,
                           row_number() OVER (
                               PARTITION BY vec_id, sub
                               ORDER BY dist ASC, code ASC) AS rk
                    FROM dists) WHERE rk = 1
            ), lut AS (
                SELECT cb.sub, cb.code,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 16),
                           i -> qn.qu[cb.sub * 16 + i] * cb.centroid[i])),
                           (a, b) -> a + b) AS val
                FROM cb, qn
            ), scores AS (
                SELECT a.vec_id,
                       list_reduce(
                           list_prepend(0.0, list(l.val ORDER BY a.sub)),
                           (x, y) -> x + y) AS s
                FROM assigned a
                JOIN lut l ON a.sub = l.sub AND a.code = l.code
                GROUP BY a.vec_id
            )
            SELECT vec_id, round(s, 4) AS adc_score
            FROM scores ORDER BY adc_score DESC, vec_id LIMIT 10
        """,
        # IVF-PQ full replay: coarse assignment, residuals, residual
        # encoding, probe selection, LUT, and base+ADC scoring all
        # recomputed in SQL from the two exported model tables.
        # d=64, m=4, ds=16, n_centroids=8, nprobe=3.
        "td_ivfpq_topk": f"""
            WITH cent AS (
                SELECT * FROM '{_IVFPQ_CENT_PATH}/*.parquet'
            ), cb AS (
                SELECT * FROM '{_IVFPQ_CB_PATH}/*.parquet'
            ), q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ), qn AS (
                SELECT list_transform(qv, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(qv, y -> y * y)),
                           (a, b) -> a + b))) AS qu
                FROM q
            ), unitv AS (
                SELECT vec_id,
                       list_transform(v, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(v, y -> y * y)),
                           (a, b) -> a + b))) AS u
                FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
            ), coarse_dots AS (
                SELECT uv.vec_id, c.cluster,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 64),
                           i -> uv.u[i] * c.centroid[i])),
                           (a, b) -> a + b) AS dot
                FROM unitv uv, cent c
            ), assigned AS (
                SELECT vec_id, cluster FROM (
                    SELECT vec_id, cluster,
                           row_number() OVER (PARTITION BY vec_id
                               ORDER BY dot DESC, cluster ASC) AS rk
                    FROM coarse_dots) WHERE rk = 1
            ), base AS (
                SELECT c.cluster,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 64),
                           i -> qn.qu[i] * c.centroid[i])),
                           (a, b) -> a + b) AS b
                FROM cent c, qn
            ), probe AS (
                SELECT cluster FROM (
                    SELECT cluster, row_number() OVER (
                        ORDER BY b DESC, cluster ASC) AS rk
                    FROM base) WHERE rk <= 3
            ), resid AS (
                SELECT uv.vec_id, a.cluster,
                       list_transform(generate_series(1, 64),
                           i -> uv.u[i] - c.centroid[i]) AS r
                FROM unitv uv
                JOIN assigned a ON uv.vec_id = a.vec_id
                JOIN cent c ON a.cluster = c.cluster
            ), dists AS (
                SELECT rs.vec_id, cb.sub, cb.code,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 16),
                           i -> (rs.r[cb.sub * 16 + i] - cb.centroid[i])
                              * (rs.r[cb.sub * 16 + i] - cb.centroid[i]))),
                           (a, b) -> a + b) AS dist
                FROM resid rs, cb
            ), codes AS (
                SELECT vec_id, sub, code FROM (
                    SELECT vec_id, sub, code,
                           row_number() OVER (PARTITION BY vec_id, sub
                               ORDER BY dist ASC, code ASC) AS rk
                    FROM dists) WHERE rk = 1
            ), lut AS (
                SELECT cb.sub, cb.code,
                       list_reduce(list_prepend(0.0, list_transform(
                           generate_series(1, 16),
                           i -> qn.qu[cb.sub * 16 + i] * cb.centroid[i])),
                           (a, b) -> a + b) AS val
                FROM cb, qn
            ), scores AS (
                SELECT cd.vec_id,
                       any_value(bs.b) + list_reduce(
                           list_prepend(0.0, list(l.val ORDER BY cd.sub)),
                           (x, y) -> x + y) AS s
                FROM codes cd
                JOIN assigned a ON cd.vec_id = a.vec_id
                JOIN probe p ON a.cluster = p.cluster
                JOIN base bs ON a.cluster = bs.cluster
                JOIN lut l ON cd.sub = l.sub AND cd.code = l.code
                GROUP BY cd.vec_id
            )
            SELECT vec_id, round(s, 4) AS adc_score
            FROM scores ORDER BY adc_score DESC, vec_id LIMIT 10
        """,
        # Multi-table OR-banded near-dup decision replay: unit
        # normalization, per-table sign buckets over the EXPORTED
        # plane bank (bit-exact left-folds), ≥1-shared-bucket OR,
        # exact-cosine verify at 6dp — the full
        # embedding_near_duplicates decision function in SQL.
        "q_neardup_bands": f"""
            WITH aug AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id < 20
            ), unitv AS (
                SELECT vec_id,
                       list_transform(v, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(v, y -> y * y)),
                           (a, b) -> a + b))) AS u
                FROM aug
            ), planes AS (
                SELECT * FROM '{_NEARDUP_PLANES_PATH}/*.parquet'
            ), bits AS (
                SELECT uv.vec_id, p.tbl, p.plane_idx,
                       CASE WHEN list_reduce(
                              list_prepend(0.0, list_transform(
                                  generate_series(1, len(p.components)),
                                  i -> uv.u[i] * p.components[i])),
                              (a, b) -> a + b) >= 0
                            THEN 1 ELSE 0 END AS bit
                FROM unitv uv, planes p
            ), buckets AS (
                SELECT vec_id, tbl,
                       CAST(sum(bit * (1::BIGINT << (7 - plane_idx))) AS BIGINT) AS bucket
                FROM bits GROUP BY vec_id, tbl
            ), cand AS (
                SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
                FROM buckets a JOIN buckets b
                  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
            )
            SELECT c.doc_a, c.doc_b
            FROM cand c
            JOIN unitv x ON c.doc_a = x.vec_id
            JOIN unitv y ON c.doc_b = y.vec_id
            WHERE round(list_reduce(list_prepend(0.0, list_transform(
                      generate_series(1, len(x.u)), i -> x.u[i] * y.u[i])),
                      (a, b) -> a + b), 6) >= 0.25
        """,
        # LSH-index ANN decision replay: the index's bucket assignment
        # AND the per-table query buckets recomputed from the exported
        # plane bank (bit-exact left-folds), 6-probe candidate union,
        # exact-cosine re-rank at 4dp.
        "td_lsh_topk": f"""
            WITH q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            ), qn AS (
                SELECT qv, list_transform(qv, x -> x / sqrt(list_reduce(
                           list_prepend(0.0, list_transform(qv, y -> y * y)),
                           (a, b) -> a + b))) AS qu
                FROM q
            ), planes AS (
                SELECT * FROM '{_LSH_TOPK_PLANES_PATH}/*.parquet'
            ), vbits AS (
                SELECT e.vec_id, p.tbl, p.plane_idx,
                       CASE WHEN list_reduce(
                              list_prepend(0.0, list_transform(
                                  generate_series(1, len(p.components)),
                                  i -> e.embedding[i]::DOUBLE * p.components[i])),
                              (a, b) -> a + b) >= 0
                            THEN 1 ELSE 0 END AS bit
                FROM embeddings e, planes p
            ), vbuckets AS (
                SELECT vec_id, tbl,
                       CAST(sum(bit * (1::BIGINT << (7 - plane_idx))) AS BIGINT) AS bucket
                FROM vbits GROUP BY vec_id, tbl
            ), qbits AS (
                SELECT p.tbl, p.plane_idx,
                       CASE WHEN list_reduce(
                              list_prepend(0.0, list_transform(
                                  generate_series(1, len(p.components)),
                                  i -> qn.qu[i] * p.components[i])),
                              (a, b) -> a + b) >= 0
                            THEN 1 ELSE 0 END AS bit
                FROM planes p, qn
            ), qbuckets AS (
                SELECT tbl,
                       CAST(sum(bit * (1::BIGINT << (7 - plane_idx))) AS BIGINT) AS bucket
                FROM qbits GROUP BY tbl
            ), cand AS (
                SELECT DISTINCT v.vec_id
                FROM vbuckets v
                JOIN qbuckets qb ON v.tbl = qb.tbl AND v.bucket = qb.bucket
            )
            SELECT e.vec_id,
                   round(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 4) AS cosine
            FROM embeddings e
            JOIN cand USING (vec_id)
            CROSS JOIN q
            ORDER BY cosine DESC, e.vec_id
            LIMIT 10
        """,
        # Retrieval-quality metrics replayed end to end: clone
        # injection, per-query cosine ranking, P/R/MRR arithmetic
        # (hits/returned, hits/relevant, 1/first-hit-rank, means).
        # Rank-flip-proof: relevant docs sit at exact cosine 1.0.
        "q_search_quality": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 10
            ), clones AS (
                SELECT query_id, 20000 + 3 * query_id + j AS vec_id, qv
                FROM q, UNNEST([0, 1, 2]) AS t(j)
            ), aug AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id, qv AS v FROM clones
            ), scored AS (
                SELECT q.query_id, a.vec_id,
                       round(list_cosine_similarity(a.v, q.qv), 6) AS cosine
                FROM aug a, q
            ), ranked AS (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, vec_id) AS rk
                FROM scored
            ), topk AS (
                SELECT * FROM ranked WHERE rk <= 10
            ), perq AS (
                SELECT t.query_id,
                       count(*) AS n_ret,
                       sum(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS hits,
                       min(CASE WHEN l.vec_id IS NOT NULL THEN t.rk END) AS fr
                FROM topk t
                LEFT JOIN clones l ON t.query_id = l.query_id AND t.vec_id = l.vec_id
                GROUP BY t.query_id
            )
            SELECT round(avg(hits::DOUBLE / n_ret), 4) AS mean_precision,
                   round(avg(hits::DOUBLE / 3), 4) AS mean_recall,
                   round(avg(CASE WHEN fr IS NOT NULL THEN 1.0 / fr ELSE 0.0 END), 4) AS mrr,
                   CAST(count(*) AS BIGINT) AS n_queries
            FROM perq
        """,
        # The COMPOSED export pipeline replayed end to end: every CTE
        # is the already-verified fragment of its stage's own oracle
        # (gopher gates, redaction chain, fingerprint dedup, gram
        # overlap, split/shard hashes, packing window), chained.
        "q_training_export": r"""
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
                       || CASE WHEN doc_id % 4 = 0 THEN ' call 555-123-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                       AS text
                FROM documents
            ), dups AS (
                SELECT doc_id, text FROM aug
                UNION ALL
                SELECT doc_id + 100000 AS doc_id, text FROM aug WHERE doc_id < 25
            ), toksrc AS (
                SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> length(x) > 0) AS w
                FROM dups
            ), st AS (
                SELECT doc_id, text, w, len(w) AS n_words,
                       CASE WHEN len(w) >= 2 THEN
                           list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1])
                       ELSE [] END AS bg
                FROM toksrc
            ), gate AS (
                SELECT doc_id, text,
                       n_words >= 30
                       AND (CASE WHEN n_words > 0 THEN (10000 * len(list_distinct(w))) // n_words ELSE 0 END) >= 2000
                       AND (CASE WHEN coalesce(list_sum(list_transform(bg, g -> length(g))), 0) > 0
                            THEN (10000 * coalesce(list_sum(list_transform(bg,
                                     g -> CASE WHEN len(list_filter(bg, x -> x = g)) > 1 THEN length(g) ELSE 0 END)), 0))
                                 // list_sum(list_transform(bg, g -> length(g)))
                            ELSE 0 END) <= 2500
                       AND (CASE WHEN n_words > 0
                            THEN (100 * coalesce(list_sum(list_transform(w, x -> length(x))), 0)) // n_words
                            ELSE 0 END) BETWEEN 300 AND 1000
                       AS keep_quality
                FROM st
            ), s1 AS (
                SELECT doc_id, text, keep_quality,
                       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                       regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
                FROM gate
            ), s2 AS (
                SELECT doc_id, text, keep_quality, n_email,
                       CAST(len(regexp_extract_all(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
                       regexp_replace(t, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t
                FROM s1
            ), s3 AS (
                SELECT doc_id, text, keep_quality, n_email, n_phone,
                       CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
                       regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t
                FROM s2
            ), red AS (
                SELECT doc_id, keep_quality,
                       n_email + n_phone + n_ipv4 AS n_pii,
                       md5(regexp_replace(lower(trim(t)), '\s+', ' ', 'g')) AS fp,
                       CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens
                FROM s3
            ), canon AS (
                SELECT fp, min(doc_id) AS canonical_key FROM red WHERE keep_quality GROUP BY fp
            ), words5 AS (
                SELECT doc_id, string_split(text, ' ') AS w FROM dups
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS g
                FROM words5, UNNEST(generate_series(1, greatest(len(w) - 4, 0))) AS u(i)
            ), bench AS (
                SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0 AND doc_id < 100000
            ), cont AS (
                SELECT grams.doc_id,
                       sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
                FROM grams LEFT JOIN bench USING (g) GROUP BY grams.doc_id
            ), sided AS (
                SELECT r.doc_id, r.keep_quality, r.n_pii, r.n_tokens,
                       r.keep_quality AND r.doc_id = c.canonical_key AS is_canonical,
                       coalesce(ct.contaminated, false) AS contaminated,
                       CASE WHEN r.keep_quality AND r.doc_id = c.canonical_key
                                 AND NOT coalesce(ct.contaminated, false) THEN
                           CASE WHEN CAST(('0x' || substr(md5('split:0|' || CAST(r.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                                     % 1000000 < 100000
                                THEN 'test' ELSE 'train' END
                       END AS side
                FROM red r
                LEFT JOIN canon c ON r.fp = c.fp
                LEFT JOIN cont ct ON r.doc_id = ct.doc_id
            ), packpos AS (
                SELECT doc_id,
                       CAST(CAST(('0x' || substr(md5('shard:0|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                            % 1000000 % 8 AS INT) AS shard,
                       greatest(n_tokens, 1) AS nt
                FROM sided WHERE side = 'train'
            ), packed AS (
                SELECT doc_id, shard, nt,
                       coalesce(sum(nt) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS start
                FROM packpos
            )
            SELECT s.doc_id, s.keep_quality, CAST(s.n_pii AS BIGINT) AS n_pii,
                   s.is_canonical, s.contaminated, s.side,
                   p.shard,
                   CAST(p.start // 512 AS BIGINT) AS seq_first,
                   CAST(p.start % 512 AS BIGINT) AS offset_in_seq,
                   CAST((p.start + p.nt - 1) // 512 - p.start // 512 + 1 AS BIGINT) AS n_seqs
            FROM sided s LEFT JOIN packed p USING (doc_id)
        """,
        "q_cosine_neardup": """
            WITH aug AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id < 20
            )
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.25
        """,
        "q_cosine_topk": """
            WITH q AS (
                SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
            )
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cosine
            FROM embeddings, q
            ORDER BY cosine DESC, vec_id ASC LIMIT 10
        """,
        # Replays the banding/hamming DECISION over the Spark-exported
        # signature table (the UDF signature itself is the only
        # non-SQL step). BIGINT >> is arithmetic in DuckDB, but the
        # & 65535 mask keeps exactly bits [16k, 16k+15] for every
        # k ≤ 3, so chunks match Spark's shiftrightunsigned+mask.
        "td_simhash_pairs": f"""
            WITH sig AS (
                SELECT doc, simhash FROM '{_SIMHASH_SIG_PATH}/*.parquet'
            ),
            chunks AS (
                SELECT doc, simhash, k AS chunk_pos,
                       (simhash >> (k * 16)) & 65535 AS chunk
                FROM sig, (SELECT unnest([0, 1, 2, 3]) AS k)
            ),
            cand AS (
                SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
                       a.simhash AS h_a, b.simhash AS h_b
                FROM chunks a
                JOIN chunks b ON a.chunk_pos = b.chunk_pos
                             AND a.chunk = b.chunk AND a.doc < b.doc
            )
            SELECT doc_a, doc_b,
                   CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
            FROM cand
            WHERE bit_count(xor(h_a, h_b)) <= 3
            ORDER BY doc_a, doc_b
        """,
        "q_pagerank": _pagerank_oracle(n_iters=5, damping=85, scale=10**12),
        "q_hits": _hits_oracle(n_iters=5, scale=10**9),
        "q_harmonic": f"""
            WITH RECURSIVE {_DERIVED_EDGES_SQL},
            und AS (
                SELECT src AS a, dst AS b FROM edges
                UNION
                SELECT dst AS a, src AS b FROM edges
            ),
            srcs AS (
                SELECT a AS s FROM und GROUP BY a ORDER BY a LIMIT 16
            ),
            walk(s, node, hops) AS (
                SELECT s, s, CAST(0 AS BIGINT) FROM srcs
                UNION
                SELECT walk.s, und.b, walk.hops + 1
                FROM walk JOIN und ON und.a = walk.node
                WHERE walk.hops < 6
            ),
            dist AS (
                SELECT s, node, min(hops) AS d FROM walk GROUP BY s, node
            ),
            contrib AS (
                SELECT node, CAST(sum(1000000000 // d) AS BIGINT) AS h
                FROM dist WHERE d > 0 GROUP BY node
            )
            SELECT n.a AS node_id,
                   CAST(coalesce(c.h, 0) AS BIGINT) AS harmonic_fixed
            FROM (SELECT a FROM und GROUP BY a) n
            LEFT JOIN contrib c ON c.node = n.a
            ORDER BY node_id
        """,
        "q_anchor_text": _anchor_text_oracle(),
        "q_pps_sample": _pps_oracle(n_target=50, seed=0),
        "q_phrase_match": _phrase_oracle("merge data line"),
        "q_markup_stats": _markup_oracle(),
        "q_ppr": _ppr_oracle(n_iters=5, damping=85, scale=10**12, n_seeds=10),
        "q_token_budget": _token_budget_oracle(budget=100_000),
        "q_pagerank_weighted": _pagerank_weighted_oracle(),
        "q_dedup_keep_best": _dedup_keep_best_oracle(),
        "q_link_features": _link_features_oracle(),
        "q_link_pred": f"""
            WITH {_DERIVED_EDGES_SQL},
            lund AS (
                SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                FROM edges WHERE src <> dst
            ),
            lsym AS (SELECT a, b FROM lund UNION ALL SELECT b, a FROM lund),
            ldeg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM lsym GROUP BY a),
            lcommon AS (
                SELECT l.a AS pa, r.a AS pb, CAST(count(*) AS BIGINT) AS n_common
                FROM lsym l JOIN lsym r ON l.b = r.b AND l.a < r.a
                GROUP BY 1, 2 HAVING count(*) >= 2
            ),
            lcand AS (
                SELECT pa, pb, n_common FROM lcommon c
                WHERE NOT EXISTS (
                    SELECT 1 FROM lund u WHERE u.a = c.pa AND u.b = c.pb
                )
            )
            SELECT pa AS node_a, pb AS node_b, n_common,
                   CAST((n_common * 1000) // (da.deg + db.deg - n_common)
                       AS BIGINT) AS jaccard_permille
            FROM lcand JOIN ldeg da ON da.a = lcand.pa
            JOIN ldeg db ON db.a = lcand.pb
            ORDER BY node_a, node_b
        """,
        "q_sessionize": """
            WITH flagged AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 30 * 60 * 1000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts, value,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_no
                FROM flagged
            )
            SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
                   count(*) AS n_events,
                   max(epoch_us(ts)) - min(epoch_us(ts)) AS span_us,
                   round(sum(value), 2) AS total_value
            FROM sess GROUP BY user_id, session_no
            ORDER BY user_id, session_no
        """,
        "q_asof_join": """
            WITH clicks AS (
                SELECT user_id, ts, event_id, value FROM (
                    SELECT user_id, ts, event_id, value,
                           row_number() OVER (PARTITION BY user_id, ts
                               ORDER BY event_id DESC) AS rn
                    FROM events WHERE event_type = 'click'
                ) WHERE rn = 1
            ), purchases AS (
                SELECT user_id, ts, event_id FROM events
                WHERE event_type = 'purchase'
            )
            SELECT p.user_id, p.ts, p.event_id,
                   c.event_id AS matched_event_id,
                   epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
                   c.value AS matched_value
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY p.event_id
        """,
        "q_latest_event": """
            SELECT user_id, ts, event_id, event_type, value FROM (
                SELECT user_id, ts, event_id, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "q_repetition_stats": f"""
            WITH base AS (
                SELECT doc_id, {toks} AS w FROM documents
            ), st AS (
                SELECT doc_id, w, len(w) AS n_words,
                       CASE WHEN len(w) >= 2 THEN
                           list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])
                       ELSE [] END AS bg
                FROM base
            ), agg AS (
                SELECT doc_id, n_words,
                       len(list_distinct(w)) AS uniq,
                       coalesce(list_max(list_transform(list_distinct(w),
                           u -> len(list_filter(w, x -> x = u)))), 0) AS top,
                       CAST(coalesce(list_sum(list_transform(bg,
                           g -> CASE WHEN len(list_filter(bg, x -> x = g)) > 1
                                     THEN length(g) ELSE 0 END)), 0) AS BIGINT)
                           AS dup_chars,
                       CAST(coalesce(list_sum(list_transform(bg,
                           g -> length(g))), 0) AS BIGINT) AS tot_chars,
                       CAST(coalesce(list_sum(list_transform(w,
                           x -> length(x))), 0) AS BIGINT) AS sum_len
                FROM st
            ), stats AS (
                SELECT doc_id,
                       CAST(n_words AS BIGINT) AS n_words,
                       CAST(CASE WHEN n_words > 0
                            THEN (10000 * uniq) // n_words ELSE 0 END
                            AS BIGINT) AS unique_word_bp,
                       CAST(CASE WHEN n_words > 0
                            THEN (10000 * top) // n_words ELSE 0 END
                            AS BIGINT) AS top_word_bp,
                       CAST(CASE WHEN tot_chars > 0
                            THEN (10000 * dup_chars) // tot_chars ELSE 0 END
                            AS BIGINT) AS dup_bigram_bp,
                       CAST(CASE WHEN n_words > 0
                            THEN (100 * sum_len) // n_words ELSE 0 END
                            AS BIGINT) AS mean_word_len_x100
                FROM agg
            )
            SELECT doc_id, n_words, unique_word_bp, top_word_bp,
                   dup_bigram_bp, mean_word_len_x100,
                   (n_words >= 30 AND unique_word_bp >= 2000
                    AND dup_bigram_bp <= 2500
                    AND mean_word_len_x100 BETWEEN 300 AND 1000) AS keep
            FROM stats ORDER BY doc_id
        """,
        "q_dup_spans": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            win AS (
                SELECT doc_id,
                       CASE WHEN len(w) >= 3 THEN
                           list_transform(generate_series(1, len(w) - 2),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                       ELSE [] END AS wins
                FROM base),
            ex AS (SELECT doc_id, unnest(wins) AS span FROM win),
            per AS (SELECT doc_id, span, count(*) AS occ
                    FROM ex GROUP BY 1, 2),
            freq AS (SELECT span, count(*) AS df_docs FROM per GROUP BY 1),
            dup AS (SELECT p.doc_id, sum(p.occ) AS dup_windows
                    FROM per p JOIN freq f USING (span)
                    WHERE f.df_docs >= 2 GROUP BY 1)
            SELECT b.doc_id,
                   CAST(greatest(0, len(b.w) - 2) AS BIGINT) AS n_windows,
                   CAST(coalesce(d.dup_windows, 0) AS BIGINT) AS dup_windows,
                   CAST(CASE WHEN len(b.w) >= 3
                        THEN (10000 * coalesce(d.dup_windows, 0))
                             // (len(b.w) - 2)
                        ELSE 0 END AS BIGINT) AS dup_bp,
                   (CASE WHEN len(b.w) >= 3
                         THEN (10000 * coalesce(d.dup_windows, 0))
                              // (len(b.w) - 2)
                         ELSE 0 END) <= 5000 AS keep
            FROM base b LEFT JOIN dup d USING (doc_id)
            ORDER BY doc_id
        """,
        "q_bm25_topk": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS term FROM base),
            post AS (SELECT term, doc_id, count(*) AS tf
                     FROM tok GROUP BY 1, 2),
            stats AS (SELECT doc_id, len(w) AS dl FROM base),
            tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                    FROM stats),
            hits AS (SELECT * FROM post
                     WHERE term IN ('spark', 'join', 'fast')),
            dfq AS (SELECT term, count(*) AS df_t FROM hits GROUP BY 1),
            scored AS (
                SELECT h.doc_id,
                       round(sum(
                           ln(1 + (t.n_docs - d.df_t + 0.5)
                                  / (d.df_t + 0.5))
                           * (h.tf * 2.2)
                           / (h.tf + 1.2 * (0.25 + 0.75 * s.dl
                                            / t.avgdl))), 4) AS score
                FROM hits h
                JOIN dfq d USING (term)
                JOIN stats s USING (doc_id)
                CROSS JOIN tot t
                GROUP BY 1)
            SELECT doc_id, score FROM scored
            ORDER BY score DESC, doc_id LIMIT 15
        """,
        "q_within_doc_dedup": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            seg AS (SELECT doc_id,
                    list_transform(
                        generate_series(1, CAST(ceil(len(w)/2.0) AS BIGINT)),
                        b -> array_to_string(
                            w[(b-1)*2+1 : least(len(w), b*2)], ' ')) AS segs
                    FROM base),
            kept AS (SELECT doc_id, segs,
                            list_filter(
                                list_transform(
                                    generate_series(1, len(segs)),
                                    i -> CASE WHEN list_position(segs,
                                              segs[i]) = i
                                         THEN segs[i] END),
                                x -> x IS NOT NULL) AS ks
                     FROM seg)
            SELECT doc_id,
                   CAST(len(segs) AS BIGINT) AS n_segments,
                   CAST(len(segs) - len(ks) AS BIGINT) AS removed_segments,
                   sha256(array_to_string(ks, ' ')) AS clean_sha
            FROM kept ORDER BY doc_id
        """,
        "q_nfc_normalize": f"""
            WITH t AS (
                SELECT doc_id, text || '{_NFC_SUFFIX}' AS text
                FROM documents)
            SELECT doc_id,
                   CAST(length(text) AS BIGINT) AS pre_chars,
                   CAST(length(nfc_normalize(text)) AS BIGINT)
                       AS post_chars,
                   sha256(nfc_normalize(text)) AS norm_sha
            FROM t ORDER BY doc_id
        """,
        # exact all-pairs baseline: the prefix-filtered join must
        # reproduce it row-for-row (filter on the UNROUNDED ratio on
        # both sides; int/int double division is bit-identical)
        "q_prefix_join": f"""
            WITH d AS (
                SELECT doc_id, list_distinct({toks}) AS words
                FROM documents
                WHERE {toks} IS NOT NULL AND length({toks}) > 0
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(length(list_intersect(a.words, b.words))::DOUBLE
                         / (length(a.words) + length(b.words)
                            - length(list_intersect(a.words, b.words))),
                         4) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id
            WHERE length(list_intersect(a.words, b.words))::DOUBLE
                  / (length(a.words) + length(b.words)
                     - length(list_intersect(a.words, b.words))) >= 0.5
        """,
        # same exact pair decisions as q_prefix_join, closed
        # transitively (recursive CTE) + singleton fill from the full
        # documents table — the O(docs) decision-table replay
        "q_prefix_groups": f"""
            WITH RECURSIVE d AS (
                SELECT doc_id, list_distinct({toks}) AS words
                FROM documents
                WHERE {toks} IS NOT NULL AND length({toks}) > 0
            ), pairs AS (
                SELECT a.doc_id AS a, b.doc_id AS b
                FROM d a JOIN d b ON a.doc_id < b.doc_id
                WHERE length(list_intersect(a.words, b.words))::DOUBLE
                      / (length(a.words) + length(b.words)
                         - length(list_intersect(a.words, b.words))) >= 0.5
            ), sym AS (
                SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
            ), reach AS (
                SELECT a AS src, a AS node FROM sym
                UNION
                SELECT r.src, s.b AS node
                FROM reach r JOIN sym s ON r.node = s.a
            ), labels AS (
                SELECT src AS doc_id, min(node) AS rep_id
                FROM reach GROUP BY src
            ), all_docs AS (
                SELECT dd.doc_id, coalesce(l.rep_id, dd.doc_id) AS rep_id
                FROM documents dd LEFT JOIN labels l USING (doc_id)
            ), sizes AS (
                SELECT rep_id, CAST(count(*) AS BIGINT) AS group_size
                FROM all_docs GROUP BY rep_id
            )
            SELECT a.doc_id, a.rep_id, s.group_size,
                   a.doc_id = a.rep_id AS keep
            FROM all_docs a JOIN sizes s USING (rep_id)
            ORDER BY doc_id
        """,
        # host graph: same synthesized HTML, shared HREF_PATTERN,
        # same resolution/normalization chain replayed in RE2
        "q_host_graph": _host_graph_oracle(),
        # directional containment: brute force over ordered pairs,
        # filter on the unrounded ratio (int/int double division)
        "q_containment": f"""
            WITH d AS (
                SELECT doc_id, list_distinct({toks}) AS words
                FROM documents
                WHERE {toks} IS NOT NULL AND length({toks}) > 0
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   round(length(list_intersect(a.words, b.words))::DOUBLE
                         / length(a.words), 4) AS containment
            FROM d a JOIN d b ON a.doc_id <> b.doc_id
            WHERE length(list_intersect(a.words, b.words))::DOUBLE
                  / length(a.words) >= 0.9
        """,
        # k-core: full h-index trajectory replayed round-by-round in
        # chained CTEs — integer-only, order-free (see _kcore_oracle)
        "q_kcore": _kcore_oracle(n_rounds=10),
        "q_ktruss": _ktruss_oracle(k=4, n_rounds=8),
        "q_lpa_communities": _lpa_oracle(n_rounds=8),
        "q_random_walks": _walks_oracle(walk_len=4, walks_per_node=2),
        "q_assortativity": _assortativity_oracle(),
        "q_scc": _scc_oracle(),
        "q_textrank": _textrank_oracle(),
        "q_jsonld": _jsonld_oracle(),
        "q_jsonld_rollup": _jsonld_rollup_oracle(),
        "q_robots_meta": _robots_meta_oracle(),
        "q_nofollow_links": _nofollow_links_oracle(),
        "q_hreflang": _hreflang_oracle(),
        "q_jsonld_mentions": _jsonld_mentions_oracle(),
        "q_salsa": _salsa_oracle(),
        "q_katz": _katz_oracle(),
        "q_mad_outliers": _mad_outliers_oracle(),
        "q_near_match": _near_match_oracle(),
        "q_ams_f2": _ams_f2_oracle(),
        "q_ams_join": _ams_join_oracle(),
        "q_topo_layers": _topo_layers_oracle(),
        "q_blocklist": _blocklist_oracle(),
        "q_cusum": _cusum_oracle(),
        "q_negative_edges": _negative_edges_oracle(),
        "q_link_auc": _link_auc_oracle(),
        "q_cusum_onsets": _cusum_onsets_oracle(),
        "q_langid_eval": _langid_eval_oracle(),
        "q_scc_dag": _scc_dag_oracle(),
        "q_bowtie": _bowtie_oracle(),
        "q_priority_sample": _priority_sample_oracle(),
        "q_funnel": _funnel_oracle(),
        "q_cocitation": _cocitation_oracle(),
        "q_hyperball": _hyperball_oracle(),
        "q_pagerank_inc": _pagerank_inc_oracle(),
        "q_kmv_distinct": _kmv_distinct_oracle(),
        "q_kmv_jaccard": _kmv_jaccard_oracle(),
        "q_qdigest": _qdigest_oracle(),
        "q_qdigest_quantiles": _qdigest_quantiles_oracle(),
        "q_densest": _densest_oracle(),
        "q_butterflies": _butterflies_oracle(),
        "q_decayed_counts": _decayed_counts_oracle(),
        "q_domain_groups": _domain_groups_oracle(),
        "q_modularity": _modularity_oracle(),
        "q_winnow": _winnow_oracle(),
        "q_winnow_pairs": _winnow_pairs_oracle(),
        "q_suffix_ranks": _suffix_ranks_oracle(),
        "q_suffix_array": _suffix_array_oracle(),
        "q_lcp": _lcp_oracle(),
        "q_longest_repeats": _longest_repeats_oracle(),
        "q_hrw_assign": _hrw_assign_oracle(),
        "q_hrw_rebalance": _hrw_rebalance_oracle(),
        "q_cluster_eval": _cluster_eval_oracle(),
        "q_kn_score": _kn_score_oracle(),
        "q_mis": _mis_oracle(),
        "q_matching": _matching_oracle(),
        "q_concentration": _concentration_oracle(),
        "q_ndcg": _ndcg_oracle(),
        "q_bitext_pairs": _bitext_pairs_oracle(),
        "q_calibration": _calibration_oracle(),
        "q_winnow_probe": _winnow_probe_oracle(),
        "q_hll_sliding": _hll_sliding_oracle(),
        "q_waterfill": _waterfill_oracle(),
        "q_cohorts": _cohorts_oracle(),
        "q_rbo": _rbo_oracle(),
        "q_markov_trans": _markov_trans_oracle(),
        "q_markov_mass": _markov_mass_oracle(),
        # z-order: range normalization + unrolled 16-bit interleave,
        # all BIGINT shift/mask — bit-identical replay
        "q_zorder": f"""
            WITH p AS (
                SELECT min(o_orderkey) AS lox, max(o_orderkey) AS hix,
                       min(o_custkey) AS loy, max(o_custkey) AS hiy
                FROM orders
            ), n AS (
                SELECT o_orderkey, o_custkey,
                       CAST((o_orderkey - lox) * 65535
                            // (hix - lox) AS BIGINT) AS nx,
                       CAST((o_custkey - loy) * 65535
                            // (hiy - loy) AS BIGINT) AS ny
                FROM orders, p
            )
            SELECT o_orderkey, o_custkey,
                   CAST({" + ".join(
                       f"(((nx >> {j}) & 1) << {2 * j})"
                       f" + (((ny >> {j}) & 1) << {2 * j + 1})"
                       for j in range(16)
                   )} AS BIGINT) AS zval
            FROM n ORDER BY o_orderkey
        """,
        # interval join: inclusive [purchase−1h, purchase] range join;
        # lag = per-side floored epoch seconds (unix_timestamp parity)
        "q_click_attribution": """
            WITH c AS (
                SELECT user_id, ts FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            )
            SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts,
                   round(p.value, 2) AS purchase_value,
                   CAST(epoch_us(p.ts) // 1000000
                        - epoch_us(c.ts) // 1000000 AS BIGINT) AS lag_seconds
            FROM c JOIN p
              ON c.user_id = p.user_id
             AND c.ts <= p.ts
             AND c.ts >= p.ts - INTERVAL 1 HOUR
            ORDER BY c.user_id, purchase_ts, click_ts
        """,
        # BPE statistics: char segmentation + EOW + weighted adjacent
        # pairs recomputed from scratch (word[i] indexing, all BIGINT)
        "q_bpe_pairs": f"""
            WITH w AS (
                SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
                    SELECT unnest({toks}) AS word FROM documents
                ) GROUP BY word
            ), seg AS (
                SELECT word, cnt,
                       list_append(list_transform(
                           generate_series(1, length(word)),
                           i -> word[i]), '</w>') AS syms
                FROM w
            ), pr AS (
                SELECT cnt, unnest(list_transform(
                           generate_series(1, len(syms) - 1),
                           i -> {{'a': syms[i], 'b': syms[i + 1]}})) AS p
                FROM seg
            )
            SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS cnt
            FROM pr GROUP BY 1, 2
            ORDER BY cnt DESC, a, b
        """,
        # WARC round-trip: every parsed field recomputed from the
        # source table — blob = id div 100, in-blob order = id order
        "q_warc_roundtrip": """
            SELECT CAST(doc_id // 100 AS BIGINT) AS blob_id,
                   CAST(row_number() OVER (PARTITION BY doc_id // 100
                        ORDER BY doc_id) - 1 AS INT) AS record_index,
                   'http://' || source || '/' || CAST(doc_id AS VARCHAR)
                       AS target_uri,
                   CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                       AS content_length,
                   sha256(coalesce(text, '')) AS payload_sha
            FROM documents
            ORDER BY blob_id, record_index
        """,
        # HLL: md5-derived registers + binary-string rho + the BIGINT
        # estimator core replayed exactly (p=12, m=4096, rho ∈ [1,49])
        "q_hll_cardinality": """
            WITH h AS (
                SELECT event_type,
                       ('0x' || substr(md5('hll|' ||
                            CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS hv
                FROM events
            ), rr AS (
                SELECT event_type, CAST(hv % 4096 AS BIGINT) AS register,
                       CASE WHEN hv // 4096 = 0 THEN 49
                            ELSE 49 - length(bin(hv // 4096)) END AS rho
                FROM h
            ), sk AS (
                SELECT event_type, register, max(rho) AS maxrho
                FROM rr GROUP BY 1, 2
            ), core AS (
                SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n_present,
                       CAST(4096 - count(*) AS BIGINT) AS v_zero,
                       CAST(sum(1::BIGINT << (49 - maxrho))
                            + (4096 - count(*)) * (1::BIGINT << 49)
                         AS BIGINT) AS s_scaled
                FROM sk GROUP BY 1
            )
            SELECT c.event_type, c.n_present, c.v_zero, c.s_scaled,
                   e.exact_distinct
            FROM core c
            JOIN (SELECT event_type,
                         CAST(count(DISTINCT user_id) AS BIGINT)
                             AS exact_distinct
                  FROM events GROUP BY 1) e USING (event_type)
            ORDER BY c.event_type
        """,
        # LM scoring: frequencies recomputed independently; the
        # exported (freq -> nll_micro) log function and OOV scalar are
        # trusted exports (pytest pins them vs math.log); every sum /
        # divide is BIGINT so the replay is bit-exact.
        # TF-IDF replay: independent tf + df recomputation joined
        # against the exported (df → idf_micro) log table ON df, then
        # the identical BIGINT scores and per-doc top-5 window cut.
        "q_tfidf_keywords": f"""
            WITH tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest({toks}) AS term FROM documents)
                GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS dfv
                FROM tf GROUP BY term
            ), idf AS (
                SELECT d.term, e.idf_micro
                FROM dfq d JOIN '{_TFIDF_IDF_PATH}/*.parquet' e
                  ON e.df = d.dfv
            ), scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       CAST(tf.tf * idf.idf_micro AS BIGINT) AS score_micro
                FROM tf JOIN idf USING (term)
            ), rk AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id
                    ORDER BY score_micro DESC, term
                ) AS rank FROM scored
            )
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf,
                   score_micro
            FROM rk WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        # Fuzzy join: the deletion-neighborhood candidate set is
        # provably complete and verification is exact, so the oracle
        # computes the decision function directly — all-pairs
        # Levenshtein ≤ 1 over the same deterministically-built names
        # (the |len diff| conjunct is implied by the distance bound).
        "q_fuzzy_join": """
            WITH nm0 AS (
                SELECT doc_id,
                       trim(substr(regexp_replace(lower(text),
                                                  '[^a-z ]', '', 'g'),
                                   1, 16)) AS base
                FROM documents
            ), nm AS (
                SELECT doc_id * 2 AS id, base AS name FROM nm0
                UNION ALL
                SELECT doc_id * 2 + 1,
                       CASE WHEN length(base) < 6 THEN base || 'x'
                            WHEN doc_id % 3 = 0
                                THEN substr(base, 1, 2) || substr(base, 4)
                            WHEN doc_id % 3 = 1
                                THEN substr(base, 1, 3) || 'x'
                                     || substr(base, 5)
                            ELSE substr(base, 1, 5) || 'q'
                                 || substr(base, 6)
                       END
                FROM nm0
            )
            SELECT a.id AS id1, b.id AS id2,
                   a.name AS text1, b.name AS text2,
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist
            FROM nm a JOIN nm b
              ON a.id < b.id
             AND abs(length(a.name) - length(b.name)) <= 1
             AND levenshtein(a.name, b.name) <= 1
            ORDER BY id1, id2
        """,
        # Exact quantiles: the output is the exact order statistic at
        # rank ceil(q·N/1000) — partitioning-independent — so the
        # oracle computes it directly with a full-sort row_number
        # (integer-ceil rank arithmetic matches the engine's).
        "q_exact_quantiles": """
            WITH v AS (
                SELECT l_extendedprice AS v FROM lineitem
                WHERE l_extendedprice IS NOT NULL
            ), n AS (
                SELECT CAST(count(*) AS BIGINT) AS n FROM v
            ), r AS (
                SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v
            ), t AS (
                SELECT q_permille,
                       greatest(1, (q_permille * n + 999) // 1000) AS rank
                FROM (SELECT unnest([10, 250, 500, 750, 900, 990, 1000])
                             AS q_permille), n
            )
            SELECT CAST(t.q_permille AS INT) AS q_permille,
                   r.v AS value,
                   CAST(t.rank AS BIGINT) AS rank
            FROM t JOIN r ON r.rn = t.rank
            ORDER BY q_permille
        """,
        # Fuzzy probe: decision function restricted to pairs with a
        # new (id >= 500) side — the incremental path must return
        # exactly the rebuild's new-involving pairs.
        "q_fuzzy_probe": """
            WITH nm0 AS (
                SELECT doc_id,
                       trim(substr(regexp_replace(lower(text),
                                                  '[^a-z ]', '', 'g'),
                                   1, 16)) AS base
                FROM documents
            ), nm AS (
                SELECT doc_id * 2 AS id, base AS name FROM nm0
                UNION ALL
                SELECT doc_id * 2 + 1,
                       CASE WHEN length(base) < 6 THEN base || 'x'
                            WHEN doc_id % 3 = 0
                                THEN substr(base, 1, 2) || substr(base, 4)
                            WHEN doc_id % 3 = 1
                                THEN substr(base, 1, 3) || 'x'
                                     || substr(base, 5)
                            ELSE substr(base, 1, 5) || 'q'
                                 || substr(base, 6)
                       END
                FROM nm0
            )
            SELECT a.id AS id1, b.id AS id2,
                   a.name AS text1, b.name AS text2,
                   CAST(levenshtein(a.name, b.name) AS INT) AS dist
            FROM nm a JOIN nm b
              ON a.id < b.id
             AND abs(length(a.name) - length(b.name)) <= 1
             AND levenshtein(a.name, b.name) <= 1
            WHERE a.id >= 500 OR b.id >= 500
            ORDER BY id1, id2
        """,
        # Temperature mix: the full rate derivation (exact isqrt
        # weights via one-step Newton correction of floor(sqrt), the
        # scaled-demand min, the ppm floor-divides) replays from the
        # raw counts; the keep filter is the shared md5 bucket hash.
        "q_temperature_mix": """
            WITH d AS (
                SELECT doc_id,
                       'd' || CAST(CASE WHEN doc_id % 100 < 60 THEN 0
                                        WHEN doc_id % 100 < 85 THEN 1
                                        WHEN doc_id % 100 < 95 THEN 2
                                        ELSE 3 END AS VARCHAR) AS dom
                FROM documents
            ), c AS (
                SELECT dom, CAST(count(*) AS BIGINT) AS c
                FROM d GROUP BY dom
            ), s AS (
                SELECT dom, c,
                       CAST(floor(sqrt(c)) AS BIGINT)
                       - CASE WHEN CAST(floor(sqrt(c)) AS BIGINT)
                                   * CAST(floor(sqrt(c)) AS BIGINT) > c
                              THEN 1 ELSE 0 END AS s0
                FROM c
            ), w AS (
                SELECT dom, c,
                       s0 + CASE WHEN (s0 + 1) * (s0 + 1) <= c
                                 THEN 1 ELSE 0 END AS w
                FROM s
            ), lim AS (
                SELECT min((c * 1000000) // w) AS l FROM w
            ), r AS (
                SELECT dom,
                       CASE WHEN (l * w) // c > 1000000 THEN 1000000
                            ELSE (l * w) // c END AS ppm
                FROM w, lim
            )
            SELECT d.doc_id, d.dom
            FROM d JOIN r USING (dom)
            WHERE CAST(('0x' || substr(md5('tmix:7|'
                        || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                       % 1000000 AS BIGINT) < ppm
            ORDER BY d.doc_id
        """,
        # Pub-date replay: identical augmented text, the same three
        # prioritized regexes, month-name map, Gregorian validity and
        # lpad build — pure string output, no engine DATE semantics.
        "q_pub_dates": """
            WITH aug AS (
                SELECT doc_id,
                       text || CASE
                           WHEN doc_id % 5 = 0 THEN ' Published: 2023-07-19.'
                           WHEN doc_id % 5 = 1
                               THEN ' Published on March 5, 2021.'
                           WHEN doc_id % 5 = 2 THEN ' Updated 11/23/2019.'
                           WHEN doc_id % 5 = 3
                               THEN ' Updated 2021-02-29 then March 5, 2021.'
                           ELSE '' END AS t
                FROM documents
            ), x AS (
                SELECT doc_id,
                    regexp_extract(t, '(\\d{4})-(\\d{2})-(\\d{2})', 0)
                        <> '' AS has_iso,
                    try_cast(regexp_extract(t,
                        '(\\d{4})-(\\d{2})-(\\d{2})', 1) AS INT) AS iso_y,
                    try_cast(regexp_extract(t,
                        '(\\d{4})-(\\d{2})-(\\d{2})', 2) AS INT) AS iso_m,
                    try_cast(regexp_extract(t,
                        '(\\d{4})-(\\d{2})-(\\d{2})', 3) AS INT) AS iso_d,
                    regexp_extract(t, '(January|February|March|April|May|'
                        || 'June|July|August|September|October|November|'
                        || 'December) (\\d{1,2}), (\\d{4})', 0)
                        <> '' AS has_ul,
                    CASE regexp_extract(t, '(January|February|March|April|'
                        || 'May|June|July|August|September|October|'
                        || 'November|December) (\\d{1,2}), (\\d{4})', 1)
                        WHEN 'January' THEN 1 WHEN 'February' THEN 2
                        WHEN 'March' THEN 3 WHEN 'April' THEN 4
                        WHEN 'May' THEN 5 WHEN 'June' THEN 6
                        WHEN 'July' THEN 7 WHEN 'August' THEN 8
                        WHEN 'September' THEN 9 WHEN 'October' THEN 10
                        WHEN 'November' THEN 11 WHEN 'December' THEN 12
                    END AS ul_m,
                    try_cast(regexp_extract(t, '(January|February|March|'
                        || 'April|May|June|July|August|September|October|'
                        || 'November|December) (\\d{1,2}), (\\d{4})', 2)
                        AS INT) AS ul_d,
                    try_cast(regexp_extract(t, '(January|February|March|'
                        || 'April|May|June|July|August|September|October|'
                        || 'November|December) (\\d{1,2}), (\\d{4})', 3)
                        AS INT) AS ul_y,
                    regexp_extract(t, '(\\d{1,2})/(\\d{1,2})/(\\d{4})', 0)
                        <> '' AS has_sl,
                    try_cast(regexp_extract(t,
                        '(\\d{1,2})/(\\d{1,2})/(\\d{4})', 1) AS INT) AS sl_m,
                    try_cast(regexp_extract(t,
                        '(\\d{1,2})/(\\d{1,2})/(\\d{4})', 2) AS INT) AS sl_d,
                    try_cast(regexp_extract(t,
                        '(\\d{1,2})/(\\d{1,2})/(\\d{4})', 3) AS INT) AS sl_y
                FROM aug
            ), v AS (
                SELECT *,
                    (iso_m BETWEEN 1 AND 12 AND iso_y >= 1 AND iso_d >= 1
                     AND iso_d <= CASE
                         WHEN iso_m IN (1,3,5,7,8,10,12) THEN 31
                         WHEN iso_m IN (4,6,9,11) THEN 30
                         WHEN iso_m = 2 THEN 28 + CASE WHEN iso_y % 4 = 0
                             AND (iso_y % 100 <> 0 OR iso_y % 400 = 0)
                             THEN 1 ELSE 0 END
                         ELSE 0 END) AS ok_iso,
                    (ul_m BETWEEN 1 AND 12 AND ul_y >= 1 AND ul_d >= 1
                     AND ul_d <= CASE
                         WHEN ul_m IN (1,3,5,7,8,10,12) THEN 31
                         WHEN ul_m IN (4,6,9,11) THEN 30
                         WHEN ul_m = 2 THEN 28 + CASE WHEN ul_y % 4 = 0
                             AND (ul_y % 100 <> 0 OR ul_y % 400 = 0)
                             THEN 1 ELSE 0 END
                         ELSE 0 END) AS ok_ul,
                    (sl_m BETWEEN 1 AND 12 AND sl_y >= 1 AND sl_d >= 1
                     AND sl_d <= CASE
                         WHEN sl_m IN (1,3,5,7,8,10,12) THEN 31
                         WHEN sl_m IN (4,6,9,11) THEN 30
                         WHEN sl_m = 2 THEN 28 + CASE WHEN sl_y % 4 = 0
                             AND (sl_y % 100 <> 0 OR sl_y % 400 = 0)
                             THEN 1 ELSE 0 END
                         ELSE 0 END) AS ok_sl
                FROM x
            )
            SELECT doc_id,
                CASE WHEN has_iso THEN CASE WHEN ok_iso THEN
                         lpad(CAST(iso_y AS VARCHAR), 4, '0') || '-'
                         || lpad(CAST(iso_m AS VARCHAR), 2, '0') || '-'
                         || lpad(CAST(iso_d AS VARCHAR), 2, '0') END
                     WHEN has_ul THEN CASE WHEN ok_ul THEN
                         lpad(CAST(ul_y AS VARCHAR), 4, '0') || '-'
                         || lpad(CAST(ul_m AS VARCHAR), 2, '0') || '-'
                         || lpad(CAST(ul_d AS VARCHAR), 2, '0') END
                     WHEN has_sl THEN CASE WHEN ok_sl THEN
                         lpad(CAST(sl_y AS VARCHAR), 4, '0') || '-'
                         || lpad(CAST(sl_m AS VARCHAR), 2, '0') || '-'
                         || lpad(CAST(sl_d AS VARCHAR), 2, '0') END
                END AS pub_date,
                CASE WHEN has_iso THEN CASE WHEN ok_iso THEN 'iso' END
                     WHEN has_ul THEN CASE WHEN ok_ul THEN 'us_long' END
                     WHEN has_sl THEN CASE WHEN ok_sl THEN 'slash' END
                END AS date_kind
            FROM v ORDER BY doc_id
        """,
        # Heavy hitters: the output is partitioning-independent (exact
        # recount of a provably-complete candidate set), so the oracle
        # computes it directly — no exports.
        "q_heavy_hitters": f"""
            WITH tk AS (SELECT unnest({toks}) AS item FROM documents),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tk),
            c AS (
                SELECT item, CAST(count(*) AS BIGINT) AS freq
                FROM tk GROUP BY item
            )
            SELECT item, freq FROM c, n
            WHERE freq * 1000000 >= 33000 * n
            ORDER BY freq DESC, item
        """,
        # Script-stats replay: identical augmented text, then the same
        # codepoint-range length-diff counts (global regexp_replace),
        # the bp divide and the fixed-priority argmax CASE.
        "q_script_stats": """
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0
                            THEN 'Русский текст здесь да'
                            ELSE text
                            || CASE WHEN doc_id % 3 = 0
                               THEN ' немного русского' ELSE '' END
                            || CASE WHEN doc_id % 4 = 0
                               THEN ' 中文内容测试' ELSE '' END
                            || CASE WHEN doc_id % 5 = 0
                               THEN ' نص عربي' ELSE '' END
                       END AS t
                FROM documents
            ), c AS (
                SELECT doc_id,
                       CAST(length(t) AS BIGINT) AS n_chars,
                       CAST(length(t) - length(regexp_replace(
                           t, '[A-Za-z]', '', 'g')) AS BIGINT) AS n_latin,
                       CAST(length(t) - length(regexp_replace(
                           t, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
                       CAST(length(t) - length(regexp_replace(
                           t, '[一-鿿぀-ヿ]', '', 'g')) AS BIGINT) AS n_cjk,
                       CAST(length(t) - length(regexp_replace(
                           t, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic,
                       CAST(length(t) - length(regexp_replace(
                           t, '[^\\x00-\\x7F]', '', 'g')) AS BIGINT) AS na
                FROM aug
            )
            SELECT doc_id, n_chars, n_latin, n_cyrillic, n_cjk, n_arabic,
                   CAST(CASE WHEN n_chars > 0 THEN (10000 * na) // n_chars
                        ELSE 0 END AS BIGINT) AS non_ascii_bp,
                   CASE
                       WHEN n_latin > 0 AND n_latin >= n_cyrillic
                            AND n_latin >= n_cjk AND n_latin >= n_arabic
                           THEN 'latin'
                       WHEN n_cyrillic > 0 AND n_cyrillic > n_latin
                            AND n_cyrillic >= n_cjk
                            AND n_cyrillic >= n_arabic
                           THEN 'cyrillic'
                       WHEN n_cjk > 0 AND n_cjk > n_latin
                            AND n_cjk > n_cyrillic AND n_cjk >= n_arabic
                           THEN 'cjk'
                       WHEN n_arabic > 0 AND n_arabic > n_latin
                            AND n_arabic > n_cyrillic AND n_arabic > n_cjk
                           THEN 'arabic'
                       ELSE 'other'
                   END AS dominant_script
            FROM c ORDER BY doc_id
        """,
        # Sentence/line-stats replay: identical augmented text, then
        # the same terminator split, line filters and integer ratios.
        "q_sentence_stats": f"""
            WITH aug AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 2 = 0
                          THEN '. Extra sentence two! Done?' ELSE '' END
                       || CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || '• bullet item' || chr(10)
                               || '- dash item' ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                          THEN chr(10) || 'trailing teaser...' ELSE '' END
                           AS t
                FROM documents
            ), s AS (
                SELECT doc_id,
                       CAST(len(list_filter(
                           regexp_split_to_array(t, '[.!?]+'),
                           x -> length(trim(x)) > 0)) AS BIGINT)
                           AS n_sentences,
                       CAST(len(list_filter(
                           regexp_split_to_array(lower(trim(t)), '\\s+'),
                           x -> length(x) > 0)) AS BIGINT) AS nw,
                       regexp_matches(trim(t), '[.!?]$') AS ends_terminal,
                       list_filter(
                           regexp_split_to_array(t, '\\n'),
                           x -> length(trim(x)) > 0) AS lines
                FROM aug
            ), l AS (
                SELECT doc_id, n_sentences, nw, ends_terminal,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(len(list_filter(lines,
                           x -> regexp_matches(trim(x), '^[•\\-\\*]')))
                           AS BIGINT) AS bl,
                       CAST(len(list_filter(lines,
                           x -> regexp_matches(trim(x), '\\.\\.\\.$')))
                           AS BIGINT) AS el
                FROM s
            )
            SELECT doc_id, n_sentences,
                   CAST(CASE WHEN n_sentences > 0
                        THEN (1000000 * nw) // n_sentences
                        ELSE 0 END AS BIGINT)
                       AS mean_sentence_words_micro,
                   ends_terminal, n_lines,
                   CAST(CASE WHEN n_lines > 0 THEN (10000 * bl) // n_lines
                        ELSE 0 END AS BIGINT) AS bullet_line_bp,
                   CAST(CASE WHEN n_lines > 0 THEN (10000 * el) // n_lines
                        ELSE 0 END AS BIGINT) AS ellipsis_line_bp
            FROM l ORDER BY doc_id
        """,
        # Merge-equals-retrain: recompute df over the FULL union from
        # scratch, equi-join the exported merged idf ON (term, df).
        "q_idf_merge": f"""
            WITH tf AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id, unnest({toks}) AS term FROM documents
                ) GROUP BY doc_id, term
            ), dfq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS dfv
                FROM tf GROUP BY term
            )
            SELECT d.term, e.df, e.idf_micro
            FROM dfq d JOIN '{_IDF_MERGED_PATH}/*.parquet' e
              ON e.term = d.term AND e.df = d.dfv
            ORDER BY d.term
        """,
        # Full from-scratch KN replay: list-transform bigrams, the
        # same three aggregations, the same positive floor-divides.
        "q_kn_bigrams": f"""
            WITH toksed AS (SELECT {toks} AS t FROM documents),
            bgl AS (
                SELECT list_transform(
                    range(1, len(t)),
                    i -> {{'w1': t[i], 'w2': t[i + 1]}}
                ) AS bgs
                FROM toksed WHERE len(t) >= 2
            ),
            bg AS (
                SELECT b.w1 AS w1, b.w2 AS w2
                FROM (SELECT unnest(bgs) AS b FROM bgl)
            ),
            c12 AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bg GROUP BY w1, w2
            ),
            prefix AS (
                SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                       CAST(count(*) AS BIGINT) AS n1_fwd
                FROM c12 GROUP BY w1
            ),
            cont AS (
                SELECT w2, CAST(count(*) AS BIGINT) AS n1_bwd
                FROM c12 GROUP BY w2
            ),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM c12)
            SELECT c12.w1, c12.w2, c12.c12, p.c1, p.n1_fwd, c.n1_bwd,
                   CAST((1000000 * c.n1_bwd) // nbt AS BIGINT)
                       AS pcont_micro,
                   CAST((1000000 * c12.c12 - 750000) // p.c1
                        + (((750000 * p.n1_fwd) // p.c1)
                           * ((1000000 * c.n1_bwd) // nbt)) // 1000000
                        AS BIGINT) AS pkn_micro
            FROM c12
            JOIN prefix p USING (w1)
            JOIN cont c USING (w2)
            CROSS JOIN tot
            ORDER BY c12.c12 DESC, w1, w2 LIMIT 100
        """,
        # Burst detection: re-derive (window, term) counts and window
        # totals from raw text, shift-join window−1, replay the
        # ppb/ppm floor-divide chain with the same greatest(1,·)
        # clamp.
        "q_burst_terms": f"""
            WITH wtoks AS (
                SELECT doc_id % 3 AS w, unnest({toks}) AS term
                FROM documents
            ),
            counts AS (
                SELECT w, term, CAST(count(*) AS BIGINT) AS c
                FROM wtoks GROUP BY w, term
            ),
            totals AS (
                SELECT w, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY w
            ),
            cur AS (
                SELECT c.w, c.term, c.c, t.n
                FROM counts c JOIN totals t USING (w)
                WHERE c.c >= 3
            )
            SELECT cur.w AS "window", cur.term, cur.c, cur.n AS n_tokens,
                   CAST(coalesce(p.c, 0) AS BIGINT) AS prev_c,
                   pt.n AS prev_n,
                   CAST((1000000 * ((1000000000 * cur.c) // cur.n))
                        // greatest(1, (1000000000 * (coalesce(p.c, 0) + 1))
                                       // pt.n)
                        AS BIGINT) AS burst_ppm
            FROM cur
            JOIN totals pt ON pt.w = cur.w - 1
            LEFT JOIN counts p ON p.w = cur.w - 1 AND p.term = cur.term
            ORDER BY burst_ppm DESC, "window", cur.term LIMIT 100
        """,
        # PMI collocations: same bigram derivation, margins are
        # re-aggregations of c12, lift is the identical two-step
        # BIGINT floor-divide — ranking by lift == ranking by PMI.
        "q_pmi_collocations": f"""
            WITH toksed AS (SELECT {toks} AS t FROM documents),
            bgl AS (
                SELECT list_transform(
                    range(1, len(t)),
                    i -> {{'w1': t[i], 'w2': t[i + 1]}}
                ) AS bgs
                FROM toksed WHERE len(t) >= 2
            ),
            bg AS (
                SELECT b.w1 AS w1, b.w2 AS w2
                FROM (SELECT unnest(bgs) AS b FROM bgl)
            ),
            c12 AS (
                SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                FROM bg GROUP BY w1, w2
            ),
            lft AS (
                SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
                FROM c12 GROUP BY w1
            ),
            rgt AS (
                SELECT w2, CAST(sum(c12) AS BIGINT) AS c2
                FROM c12 GROUP BY w2
            ),
            tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM c12)
            SELECT c12.w1, c12.w2, c12.c12, l.c1, r.c2, tot.n_bigrams,
                   CAST((((1000000 * c12.c12) // l.c1) * tot.n_bigrams)
                        // r.c2 AS BIGINT) AS lift_ppm
            FROM c12
            JOIN lft l USING (w1)
            JOIN rgt r USING (w2)
            CROSS JOIN tot
            WHERE c12.c12 >= 2
            ORDER BY lift_ppm DESC, c12.w1, c12.w2 LIMIT 100
        """,
        # NB quality-classifier replay: re-derive the per-term
        # class counts AND the scalar sufficient statistics from the
        # raw corpus, equi-join the exports ON THE COUNTS (training
        # drift breaks the join), then BIGINT score + gate.
        "q_quality_clf": f"""
            WITH lab AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS y,
                       text
                FROM documents WHERE doc_id < 200
            ), ltoks AS (
                SELECT y, unnest({toks}) AS term FROM lab
            ), cnt AS (
                SELECT term,
                       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS pos,
                       CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
                            AS BIGINT) AS neg
                FROM ltoks GROUP BY term
            ), w AS (
                SELECT c.term, e.w_micro
                FROM cnt c
                JOIN '{_QCLF_WEIGHTS_PATH}/*.parquet' e
                  ON e.term = c.term AND e.pos = c.pos AND e.neg = c.neg
            ), p AS (
                SELECT pe.prior_micro, pe.oov_w_micro
                FROM '{_QCLF_PARAMS_PATH}/*.parquet' pe
                JOIN (
                    SELECT count(*) AS v, CAST(sum(pos) AS BIGINT) AS tp,
                           CAST(sum(neg) AS BIGINT) AS tn
                    FROM cnt
                ) s ON pe.vocab_size = s.v AND pe.total_pos = s.tp
                   AND pe.total_neg = s.tn
                JOIN (
                    SELECT CAST(sum(y) AS BIGINT) AS np,
                           CAST(sum(1 - y) AS BIGINT) AS nn
                    FROM lab
                ) d ON pe.n_pos_docs = d.np AND pe.n_neg_docs = d.nn
            ), held AS (
                SELECT doc_id, text FROM documents WHERE doc_id >= 200
            ), stoks AS (
                SELECT doc_id, unnest({toks}) AS term FROM held
            ), per AS (
                SELECT s.doc_id,
                       CAST(count(*) AS BIGINT) AS clf_tokens,
                       CAST(sum(coalesce(w.w_micro, p.oov_w_micro))
                            AS BIGINT) AS wsum
                FROM stoks s
                LEFT JOIN w USING (term)
                CROSS JOIN p
                GROUP BY s.doc_id
            )
            SELECT h.doc_id,
                   coalesce(per.clf_tokens, 0) AS clf_tokens,
                   CAST(p.prior_micro + coalesce(per.wsum, 0)
                        AS BIGINT) AS score_micro,
                   (p.prior_micro + coalesce(per.wsum, 0)) > 0 AS clf_keep
            FROM held h
            LEFT JOIN per ON per.doc_id = h.doc_id
            CROSS JOIN p
            ORDER BY h.doc_id
        """,
        "q_lm_score": f"""
            WITH logtab AS (
                SELECT * FROM '{_LM_LOGTAB_PATH}/*.parquet'
            ), p AS (
                SELECT * FROM '{_LM_PARAMS_PATH}/*.parquet'
            ), ttoks AS (
                SELECT unnest({toks}) AS term
                FROM documents WHERE doc_id % 2 = 0
            ), counts AS (
                SELECT term, count(*) AS freq FROM ttoks GROUP BY term
            ), lm AS (
                SELECT c.term, l.nll_micro
                FROM counts c JOIN logtab l USING (freq)
            ), dtoks AS (
                SELECT doc_id, unnest({toks}) AS term FROM documents
            ), per AS (
                SELECT d.doc_id,
                       CAST(count(*) AS BIGINT) AS lm_tokens,
                       CAST(sum(coalesce(lm.nll_micro, p.oov_nll_micro))
                            AS BIGINT) AS nll_sum_micro
                FROM dtoks d
                LEFT JOIN lm USING (term)
                CROSS JOIN p
                GROUP BY d.doc_id
            )
            SELECT doc.doc_id,
                   coalesce(per.lm_tokens, 0) AS lm_tokens,
                   coalesce(per.nll_sum_micro, 0) AS nll_sum_micro,
                   CASE WHEN coalesce(per.lm_tokens, 0) > 0
                        THEN per.nll_sum_micro // per.lm_tokens
                        ELSE p.oov_nll_micro END AS avg_nll_micro,
                   (CASE WHEN coalesce(per.lm_tokens, 0) > 0
                         THEN per.nll_sum_micro // per.lm_tokens
                         ELSE p.oov_nll_micro END) <= 9000000 AS lm_keep
            FROM documents doc
            LEFT JOIN per ON doc.doc_id = per.doc_id
            CROSS JOIN p
        """,
        # CCNet buckets: the q_lm_score decision-oracle chain (own
        # fresh exports) + the identical ntile(3) over (score, doc_id).
        "q_ccnet_buckets": f"""
            WITH logtab AS (
                SELECT * FROM '{_CCNET_LOGTAB_PATH}/*.parquet'
            ), p AS (
                SELECT * FROM '{_CCNET_PARAMS_PATH}/*.parquet'
            ), ttoks AS (
                SELECT unnest({toks}) AS term
                FROM documents WHERE doc_id % 2 = 0
            ), counts AS (
                SELECT term, count(*) AS freq FROM ttoks GROUP BY term
            ), lm AS (
                SELECT c.term, l.nll_micro
                FROM counts c JOIN logtab l USING (freq)
            ), dtoks AS (
                SELECT doc_id, unnest({toks}) AS term FROM documents
            ), per AS (
                SELECT d.doc_id,
                       CAST(count(*) AS BIGINT) AS lm_tokens,
                       CAST(sum(coalesce(lm.nll_micro, p.oov_nll_micro))
                            AS BIGINT) AS nll_sum_micro
                FROM dtoks d
                LEFT JOIN lm USING (term)
                CROSS JOIN p
                GROUP BY d.doc_id
            ), sc AS (
                SELECT doc.doc_id,
                       CASE WHEN coalesce(per.lm_tokens, 0) > 0
                            THEN per.nll_sum_micro // per.lm_tokens
                            ELSE p.oov_nll_micro END AS avg_nll_micro
                FROM documents doc
                LEFT JOIN per ON doc.doc_id = per.doc_id
                CROSS JOIN p
            ), bk AS (
                SELECT doc_id, avg_nll_micro,
                       CAST(ntile(3) OVER (ORDER BY avg_nll_micro, doc_id)
                            AS INT) AS ppl_bucket
                FROM sc
            )
            SELECT doc_id, avg_nll_micro, ppl_bucket,
                   CASE ppl_bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS ppl_class
            FROM bk ORDER BY doc_id
        """,
        # DSIR replay: independent re-featurization (same token
        # grammar, same bigram join, same md5 bucket hash) joined
        # against the exported ≤4096-row log-ratio table; BIGINT dot
        # products; FLOOR per-gram divide replayed with exact integer
        # arithmetic (w - (((w % n) + n) % n)) // n because DuckDB's
        # // truncates toward zero (-7 // 2 = -3) while the Spark side
        # pins floor; same (weight desc, doc_id) top-k cut.
        "q_dsir_select": f"""
            WITH lrtab AS (
                SELECT bucket, lr_micro FROM '{_DSIR_LR_PATH}/*.parquet'
                WHERE bucket >= 0
            ), unseen AS (
                SELECT lr_micro AS u FROM '{_DSIR_LR_PATH}/*.parquet'
                WHERE bucket = -1
            ), toksed AS (
                SELECT doc_id, lang, {toks} AS t FROM documents
            ), grams AS (
                SELECT doc_id, unnest(list_concat(
                    t,
                    CASE WHEN length(t) >= 2 THEN
                        list_transform(generate_series(1, length(t) - 1),
                                       i -> t[i] || ' ' || t[i + 1])
                    ELSE CAST([] AS VARCHAR[]) END)) AS g
                FROM toksed
            ), occ AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('dsir:' || g), 1, 15))::UBIGINT
                            % {_DSIR_N_BUCKETS} AS BIGINT) AS bucket
                FROM grams
            ), per AS (
                SELECT o.doc_id,
                       CAST(count(*) AS BIGINT) AS n_grams,
                       CAST(sum(coalesce(l.lr_micro, (SELECT u FROM unseen)))
                            AS BIGINT) AS weight_micro
                FROM occ o LEFT JOIN lrtab l USING (bucket)
                GROUP BY o.doc_id
            )
            SELECT d.doc_id, d.lang,
                   coalesce(p.n_grams, 0) AS n_grams,
                   coalesce(p.weight_micro, 0) AS weight_micro,
                   CASE WHEN coalesce(p.n_grams, 0) > 0
                        THEN (p.weight_micro
                              - (((p.weight_micro % p.n_grams)
                                  + p.n_grams) % p.n_grams))
                             // p.n_grams
                        ELSE 0 END AS weight_per_gram_micro
            FROM documents d LEFT JOIN per p USING (doc_id)
            ORDER BY weight_micro DESC, d.doc_id
            LIMIT {_DSIR_K}
        """,
        # SemDeDup full replay: only the 8-row centroid table is
        # trusted (k-means trajectory is pytest-pinned via ivf_build);
        # unit vectors, the argmax-dot assignment (bit-exact left
        # folds, ties -> lowest cluster), the 4dp within-cluster pair
        # decision, the component closure, and min-id election are all
        # re-derived. No float column reaches the output hash.
        "q_semdedup": f"""
            WITH RECURSIVE cent AS (
                SELECT cluster, centroid
                FROM '{_SEMDEDUP_CENTROIDS_PATH}/*.parquet'
            ), inp AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 10000, embedding::DOUBLE[]
                FROM embeddings WHERE vec_id < 25
            ), unitv AS (
                SELECT vec_id,
                       CASE WHEN n > 0
                            THEN list_transform(v, x -> x / n)
                            ELSE v END AS u
                FROM (SELECT vec_id, v,
                             sqrt(list_reduce(
                                 list_prepend(0.0, list_transform(
                                     v, y -> y * y)),
                                 (a, b) -> a + b)) AS n
                      FROM inp)
            ), asg AS (
                SELECT vec_id, u, cluster FROM (
                    SELECT uv.vec_id, uv.u, c.cluster,
                           row_number() OVER (
                               PARTITION BY uv.vec_id
                               ORDER BY list_reduce(
                                   list_prepend(0.0, list_transform(
                                       generate_series(1, len(c.centroid)),
                                       i -> uv.u[i] * c.centroid[i])),
                                   (a, b) -> a + b) DESC,
                               c.cluster) AS rk
                    FROM unitv uv CROSS JOIN cent c)
                WHERE rk = 1
            ), pairs AS (
                SELECT a.vec_id AS x, b.vec_id AS y
                FROM asg a JOIN asg b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                WHERE round(list_reduce(
                          list_prepend(0.0, list_transform(
                              generate_series(1, len(a.u)),
                              i -> a.u[i] * b.u[i])),
                          (s, t) -> s + t), 4) >= {_SEMDEDUP_TAU}
            ), sym AS (
                SELECT x AS a, y AS b FROM pairs
                UNION
                SELECT y AS a, x AS b FROM pairs
            ), reach AS (
                SELECT a AS src, a AS node FROM sym
                UNION
                SELECT r.src, s.b AS node
                FROM reach r JOIN sym s ON r.node = s.a
            ), gsize AS (
                SELECT src AS vec_id, CAST(min(node) AS BIGINT) AS group_rep,
                       CAST(count(*) AS BIGINT) AS group_size
                FROM reach GROUP BY src
            )
            SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
                   coalesce(g.group_rep, a.vec_id) AS group_rep,
                   coalesce(g.group_size, 1) AS group_size,
                   CAST(CASE WHEN coalesce(g.group_rep, a.vec_id) = a.vec_id
                        THEN 1 ELSE 0 END AS BIGINT) AS keep_flag
            FROM asg a LEFT JOIN gsize g USING (vec_id)
            ORDER BY a.vec_id
        """,
        "q_snapshot_diff": r"""
            WITH fp AS (
                SELECT doc_id, text,
                       md5(regexp_replace(lower(trim(text)), '\s+', ' ',
                           'g')) AS fingerprint
                FROM documents),
            old AS (SELECT doc_id, fingerprint AS old_fp FROM fp),
            newdocs AS (
                SELECT doc_id,
                       CASE WHEN doc_id BETWEEN 100 AND 129
                            THEN text || ' changed' ELSE text END AS text
                FROM documents WHERE doc_id >= 50
                UNION ALL
                SELECT doc_id + 1000 AS doc_id, text
                FROM documents WHERE doc_id < 20),
            newfp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(trim(text)), '\s+', ' ',
                           'g')) AS new_fp
                FROM newdocs)
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.old_fp IS NULL THEN 'added'
                        WHEN n.new_fp IS NULL THEN 'removed'
                        WHEN o.old_fp <> n.new_fp THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.old_fp, n.new_fp
            FROM old o FULL OUTER JOIN newfp n ON o.doc_id = n.doc_id
            ORDER BY doc_id
        """,
        "q_cap_per_group": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY CAST(('0x' || substr(md5('cap:0|'
                               || CAST(doc_id AS VARCHAR)), 1, 15))
                               ::UBIGINT % 1000000 AS BIGINT) ASC,
                               doc_id ASC) AS rn
                FROM documents)
            WHERE rn <= 50 ORDER BY doc_id
        """,
        "q_vocab_coverage": f"""
            WITH tok AS (
                SELECT doc_id, unnest({toks}) AS term FROM documents),
            counts AS (SELECT term, count(*) AS freq
                       FROM tok GROUP BY 1),
            vocab AS (SELECT term FROM counts
                      ORDER BY freq DESC, term LIMIT 20),
            per AS (
                SELECT t.doc_id, count(*) AS n_tokens,
                       sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                           AS oov
                FROM tok t LEFT JOIN vocab v USING (term)
                GROUP BY 1)
            SELECT d.doc_id,
                   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(p.oov, 0) AS BIGINT) AS oov_tokens,
                   CAST(CASE WHEN coalesce(p.n_tokens, 0) > 0
                        THEN (10000 * p.oov) // p.n_tokens
                        ELSE 0 END AS BIGINT) AS oov_bp
            FROM documents d LEFT JOIN per p USING (doc_id)
            ORDER BY d.doc_id
        """,
        "q_webtext_prep": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            -- stage 1: boilerplate segments (4-word blocks, df >= 3)
            seg AS (SELECT doc_id,
                    list_transform(
                        generate_series(1, CAST(ceil(len(w)/4.0) AS BIGINT)),
                        b -> struct_pack(pos := b,
                             seg := array_to_string(
                                 w[(b-1)*4+1 : least(len(w), b*4)], ' ')))
                        AS segs
                    FROM base),
            bex0 AS (SELECT doc_id, unnest(segs) AS s FROM seg),
            bex AS (SELECT doc_id, s.seg AS seg, s.pos AS pos FROM bex0),
            bfreq AS (SELECT seg, count(DISTINCT doc_id) AS dfd
                      FROM bex GROUP BY 1),
            bkept AS (SELECT e.doc_id, e.seg, e.pos FROM bex e
                      LEFT JOIN bfreq f
                        ON e.seg = f.seg AND f.dfd >= 3
                      WHERE f.seg IS NULL),
            brebuilt AS (SELECT doc_id, count(*) AS n_kept,
                                string_agg(seg, ' ' ORDER BY pos) AS bp
                         FROM bkept GROUP BY 1),
            btotals AS (SELECT doc_id, count(*) AS n_segments
                        FROM bex GROUP BY 1),
            bp AS (SELECT b.doc_id,
                          CAST(coalesce(t.n_segments, 0) AS BIGINT)
                              AS n_segments,
                          CAST(coalesce(t.n_segments, 0)
                               - coalesce(r.n_kept, 0) AS BIGINT)
                              AS removed_segments,
                          coalesce(r.bp, '') AS bp_text
                   FROM base b
                   LEFT JOIN btotals t USING (doc_id)
                   LEFT JOIN brebuilt r USING (doc_id)),
            -- stage 2: duplicate-span scrub (3-word windows, df >= 2)
            b2 AS (SELECT doc_id, n_segments, removed_segments,
                          list_filter(regexp_split_to_array(
                              lower(trim(bp_text)), '\\s+'),
                              x -> length(x) > 0) AS w2
                   FROM bp),
            win2 AS (
                SELECT doc_id,
                       CASE WHEN len(w2) >= 3 THEN
                           list_transform(generate_series(1, len(w2) - 2),
                               i -> struct_pack(s := i,
                                    sp := w2[i] || ' ' || w2[i+1]
                                          || ' ' || w2[i+2]))
                       ELSE [] END AS wins
                FROM b2),
            sex0 AS (SELECT doc_id, unnest(wins) AS x FROM win2),
            sex AS (SELECT doc_id, x.s AS s, x.sp AS sp FROM sex0),
            sfreq AS (SELECT sp, count(DISTINCT doc_id) AS dfd
                      FROM sex GROUP BY 1),
            sdups AS (SELECT e.doc_id, e.s FROM sex e
                      JOIN sfreq f ON e.sp = f.sp AND f.dfd >= 2),
            scov AS (SELECT DISTINCT doc_id, j FROM (
                         SELECT doc_id,
                                unnest(generate_series(s, s + 2)) AS j
                         FROM sdups)),
            stok0 AS (SELECT doc_id,
                             unnest(list_transform(
                                 generate_series(1, len(w2)),
                                 j -> struct_pack(j := j, tok := w2[j])))
                                 AS t
                      FROM b2),
            stok AS (SELECT doc_id, t.j AS j, t.tok AS tok FROM stok0),
            skept AS (SELECT t.doc_id, t.j, t.tok FROM stok t
                      LEFT JOIN scov c
                        ON t.doc_id = c.doc_id AND t.j = c.j
                      WHERE c.doc_id IS NULL),
            srebuilt AS (SELECT doc_id, count(*) AS n_kept,
                                string_agg(tok, ' ' ORDER BY j) AS clean
                         FROM skept GROUP BY 1),
            sc AS (SELECT b2.doc_id, n_segments, removed_segments,
                          CAST(len(b2.w2) - coalesce(r.n_kept, 0) AS BIGINT)
                              AS removed_tokens,
                          coalesce(r.clean, '') AS clean
                   FROM b2 LEFT JOIN srebuilt r USING (doc_id)),
            -- stage 3: Gopher gate over the scrubbed text
            g0 AS (SELECT doc_id,
                          list_filter(regexp_split_to_array(
                              lower(trim(clean)), '\\s+'),
                              x -> length(x) > 0) AS w3
                   FROM sc),
            g1 AS (SELECT doc_id, w3, len(w3) AS n_words,
                          CASE WHEN len(w3) >= 2 THEN
                              list_transform(generate_series(1, len(w3) - 1),
                                  i -> w3[i] || ' ' || w3[i + 1])
                          ELSE [] END AS bg
                   FROM g0),
            g2 AS (SELECT doc_id, n_words,
                          len(list_distinct(w3)) AS uniq,
                          CAST(coalesce(list_sum(list_transform(bg,
                              g -> CASE WHEN len(list_filter(bg,
                                        x -> x = g)) > 1
                                   THEN length(g) ELSE 0 END)), 0)
                              AS BIGINT) AS dup_chars,
                          CAST(coalesce(list_sum(list_transform(bg,
                              g -> length(g))), 0) AS BIGINT) AS tot_chars,
                          CAST(coalesce(list_sum(list_transform(w3,
                              x -> length(x))), 0) AS BIGINT) AS sum_len
                   FROM g1),
            g3 AS (SELECT doc_id,
                          CAST(n_words AS BIGINT) AS n_words,
                          CAST(CASE WHEN n_words > 0
                               THEN (10000 * uniq) // n_words ELSE 0 END
                               AS BIGINT) AS unique_word_bp,
                          CAST(CASE WHEN tot_chars > 0
                               THEN (10000 * dup_chars) // tot_chars
                               ELSE 0 END AS BIGINT) AS dup_bigram_bp,
                          CAST(CASE WHEN n_words > 0
                               THEN (100 * sum_len) // n_words ELSE 0 END
                               AS BIGINT) AS mean_word_len_x100
                   FROM g2),
            g AS (SELECT doc_id, n_words,
                         (n_words >= 10 AND unique_word_bp >= 2000
                          AND dup_bigram_bp <= 2500
                          AND mean_word_len_x100 BETWEEN 300 AND 1000)
                             AS keep
                  FROM g3),
            -- stage 4: exact dedup among kept docs
            fp AS (SELECT sc.doc_id,
                          md5(regexp_replace(lower(trim(clean)),
                              '\\s+', ' ', 'g')) AS fingerprint
                   FROM sc),
            canon AS (SELECT fingerprint, min(fp.doc_id) AS ck
                      FROM fp JOIN g USING (doc_id)
                      WHERE g.keep GROUP BY 1)
            SELECT sc.doc_id, sc.n_segments, sc.removed_segments,
                   sc.removed_tokens, g.n_words,
                   g.keep AS keep_quality,
                   (g.keep AND sc.doc_id = c.ck) AS is_canonical,
                   sha256(sc.clean) AS clean_sha
            FROM sc
            JOIN g USING (doc_id)
            JOIN fp USING (doc_id)
            LEFT JOIN canon c USING (fingerprint)
            ORDER BY sc.doc_id
        """,
        "q_cms_estimate": f"""
            WITH tok AS (
                SELECT unnest({toks}) AS term FROM documents),
            cells AS (
                SELECT r.row,
                       CAST(('0x' || substr(md5('cms:' || r.row || '|'
                           || term), 1, 15))::UBIGINT % 64 AS BIGINT)
                           AS col
                FROM tok, (SELECT unnest([0, 1, 2, 3]) AS row) r),
            sk AS (SELECT row, col, count(*) AS cnt
                   FROM cells GROUP BY 1, 2),
            vocab AS (SELECT DISTINCT term FROM tok),
            probes AS (
                SELECT term, r.row,
                       CAST(('0x' || substr(md5('cms:' || r.row || '|'
                           || term), 1, 15))::UBIGINT % 64 AS BIGINT)
                           AS col
                FROM vocab, (SELECT unnest([0, 1, 2, 3]) AS row) r),
            est AS (
                SELECT p.term, min(coalesce(s.cnt, 0)) AS est_count
                FROM probes p LEFT JOIN sk s USING (row, col)
                GROUP BY 1),
            exact AS (SELECT term, count(*) AS exact_count
                      FROM tok GROUP BY 1)
            SELECT term, est_count, exact_count
            FROM est JOIN exact USING (term)
            ORDER BY term
        """,
        "q_bloom_probe": """
            WITH members AS (
                SELECT DISTINCT text FROM documents WHERE source = 'src0'),
            mpos AS (
                SELECT CAST(('0x' || substr(md5('bloom:' || i || '|'
                           || text), 1, 15))::UBIGINT % 4096 AS BIGINT)
                           AS pos
                FROM members, (SELECT unnest([0, 1, 2, 3, 4]) AS i)),
            blocks AS (
                SELECT pos // 32 AS block_id,
                       bit_or((1::BIGINT) << CAST(pos % 32 AS INT)) AS bits
                FROM mpos GROUP BY 1),
            probe0 AS (SELECT DISTINCT text FROM documents),
            ppos AS (
                SELECT text,
                       CAST(('0x' || substr(md5('bloom:' || i || '|'
                           || text), 1, 15))::UBIGINT % 4096 AS BIGINT)
                           AS pos
                FROM probe0, (SELECT unnest([0, 1, 2, 3, 4]) AS i)),
            hit AS (
                SELECT p.text,
                       sum(CASE WHEN (coalesce(b.bits, 0)
                                >> CAST(p.pos % 32 AS INT)) & 1 = 1
                                THEN 1 ELSE 0 END) AS n_set
                FROM ppos p LEFT JOIN blocks b ON p.pos // 32 = b.block_id
                GROUP BY 1)
            SELECT d.doc_id,
                   (h.n_set = 5) AS maybe_member,
                   EXISTS (SELECT 1 FROM members m WHERE m.text = d.text)
                       AS is_member
            FROM documents d JOIN hit h ON d.text = h.text
            ORDER BY d.doc_id
        """,
        "q_rrf_fusion": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            tok AS (SELECT doc_id, unnest(w) AS term FROM base),
            post AS (SELECT term, doc_id, count(*) AS tf
                     FROM tok GROUP BY 1, 2),
            stats AS (SELECT doc_id, len(w) AS dl FROM base),
            tot AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl
                    FROM stats),
            hits AS (SELECT * FROM post
                     WHERE term IN ('spark', 'join', 'fast')),
            dfq AS (SELECT term, count(*) AS df_t FROM hits GROUP BY 1),
            bm50 AS (
                SELECT h.doc_id,
                       round(sum(
                           ln(1 + (t.n_docs - d.df_t + 0.5)
                                  / (d.df_t + 0.5))
                           * (h.tf * 2.2)
                           / (h.tf + 1.2 * (0.25 + 0.75 * s.dl
                                            / t.avgdl))), 4) AS score
                FROM hits h
                JOIN dfq d USING (term)
                JOIN stats s USING (doc_id)
                CROSS JOIN tot t
                GROUP BY 1
                ORDER BY score DESC, doc_id LIMIT 50),
            bm AS (SELECT doc_id, row_number() OVER
                       (ORDER BY score DESC, doc_id) AS rank FROM bm50),
            cosq AS (SELECT embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id = 0),
            cos50 AS (
                SELECT vec_id AS doc_id,
                       round(list_cosine_similarity(
                           embedding::DOUBLE[], qv), 4) AS cosine
                FROM embeddings, cosq
                ORDER BY cosine DESC, vec_id LIMIT 50),
            cr AS (SELECT doc_id, row_number() OVER
                       (ORDER BY cosine DESC, doc_id) AS rank FROM cos50),
            u AS (SELECT doc_id, 1.0 / (60 + rank) AS part FROM bm
                  UNION ALL
                  SELECT doc_id, 1.0 / (60 + rank) AS part FROM cr)
            SELECT doc_id, round(sum(part), 6) AS rrf_score,
                   count(*) AS n_lists
            FROM u GROUP BY 1
            ORDER BY rrf_score DESC, doc_id LIMIT 15
        """,
        "q_span_scrub": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            win AS (
                SELECT doc_id,
                       CASE WHEN len(w) >= 3 THEN
                           list_transform(generate_series(1, len(w) - 2),
                               i -> struct_pack(s := i,
                                    sp := w[i] || ' ' || w[i+1]
                                          || ' ' || w[i+2]))
                       ELSE [] END AS wins
                FROM base),
            ex0 AS (SELECT doc_id, unnest(wins) AS x FROM win),
            ex AS (SELECT doc_id, x.s AS s, x.sp AS sp FROM ex0),
            freq AS (SELECT sp, count(DISTINCT doc_id) AS dfd
                     FROM ex GROUP BY 1),
            dups AS (SELECT e.doc_id, e.s FROM ex e
                     JOIN freq f ON e.sp = f.sp AND f.dfd >= 2),
            cov AS (SELECT DISTINCT doc_id, j FROM (
                        SELECT doc_id,
                               unnest(generate_series(s, s + 2)) AS j
                        FROM dups)),
            tok0 AS (SELECT doc_id,
                            unnest(list_transform(
                                generate_series(1, len(w)),
                                j -> struct_pack(j := j, tok := w[j]))) AS t
                     FROM base),
            tok AS (SELECT doc_id, t.j AS j, t.tok AS tok FROM tok0),
            kept AS (SELECT t.doc_id, t.j, t.tok FROM tok t
                     LEFT JOIN cov c
                       ON t.doc_id = c.doc_id AND t.j = c.j
                     WHERE c.doc_id IS NULL),
            rebuilt AS (SELECT doc_id, count(*) AS n_kept,
                               string_agg(tok, ' ' ORDER BY j) AS clean
                        FROM kept GROUP BY 1)
            SELECT b.doc_id,
                   CAST(len(b.w) AS BIGINT) AS n_tokens,
                   CAST(len(b.w) - coalesce(r.n_kept, 0) AS BIGINT)
                       AS removed_tokens,
                   sha256(coalesce(r.clean, '')) AS clean_sha
            FROM base b LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY doc_id
        """,
        "q_boilerplate": f"""
            WITH base AS (SELECT doc_id, {toks} AS w FROM documents),
            seg AS (SELECT doc_id,
                    list_transform(
                        generate_series(1, CAST(ceil(len(w)/4.0) AS BIGINT)),
                        b -> struct_pack(pos := b,
                             seg := array_to_string(
                                 w[(b-1)*4+1 : least(len(w), b*4)], ' ')))
                        AS segs
                    FROM base),
            ex0 AS (SELECT doc_id, unnest(segs) AS s FROM seg),
            ex AS (SELECT doc_id, s.seg AS seg, s.pos AS pos FROM ex0),
            freq AS (SELECT seg, count(DISTINCT doc_id) AS dfd
                     FROM ex GROUP BY 1),
            kept AS (SELECT e.doc_id, e.seg, e.pos
                     FROM ex e LEFT JOIN freq f
                       ON e.seg = f.seg AND f.dfd >= 3
                     WHERE f.seg IS NULL),
            rebuilt AS (SELECT doc_id,
                               count(*) AS n_kept,
                               string_agg(seg, ' ' ORDER BY pos) AS clean_text
                        FROM kept GROUP BY 1),
            totals AS (SELECT doc_id, count(*) AS n_segments
                       FROM ex GROUP BY 1)
            SELECT b.doc_id,
                   CAST(coalesce(t.n_segments, 0) AS BIGINT) AS n_segments,
                   CAST(coalesce(t.n_segments, 0)
                        - coalesce(r.n_kept, 0) AS BIGINT)
                       AS removed_segments,
                   sha256(coalesce(r.clean_text, '')) AS clean_sha
            FROM base b
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY doc_id
        """,
        "q_source_stats": r"""
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT md5(regexp_replace(lower(trim(text)),
                       '\s+', ' ', 'g'))) AS n_unique_docs,
                   count(DISTINCT lang) AS n_langs,
                   CAST((100 * sum(n_chars)) // count(*) AS BIGINT)
                       AS avg_chars_x100
            FROM documents GROUP BY source ORDER BY source
        """,
        "q_json_extract": """
            SELECT event_type, count(*) AS n,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS BIGINT) AS sum_k
            FROM events GROUP BY event_type ORDER BY event_type
        """,
    }
