#!/usr/bin/env python3
"""KG benchmark: a cold build with reads (``graph``) and heavy-page
streaming ingest (``ingest``), on ``local[nproc]``.

    python3 perfbench/run.py --workload graph --seed 1 --seconds 30 --trace 0

Run it from the root of the repository. The last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the line before it is a human-readable summary. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (and the span JSON is written under
``perfbench/.work/traces``). See perfbench/README.md for the workloads,
the metrics and which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from measure import SPARK_KEYS, PeakRss, SparkGroups, Tracer, wrapped

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "metal_history_knowledge_graph_spark"
WORK = os.path.join(HERE, ".work")

#: pages are written as this many parquet files per input (2 × the
#: 4 cores the sizes below were chosen on); fixed so that input splits,
#: and so task counts, do not depend on the seed
CORPUS_FILES = 8

BUILD_PAGES = 2000            # default profile, the sf0.1 tier
REFRESH_PAGES = 100
REFRESH_RESEND = 20
READ_MIXES = 2
INGEST_BATCHES = 4            # the first one cold
INGEST_BATCH_PAGES = 200      # heavy profile, ~11 chunks per page
INGEST_RESEND = 25            # re-sent urls per batch, from batch 2 on

STAGES = ["chunks", "extracted", "entities", "edges"]
READS = ["degree_stats", "genre_popularity", "bands_per_decade",
         "shared_members", "influence_chains", "substring_search",
         "band_members", "neighborhood", "validate_entities",
         "referential_integrity", "intent_search"]

END_TO_END = {"setup_s": "s", "cold_s": "s", "work_s": "s", "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    spark_units = {"s": "s", "jobs": "count", "tasks": "count",
                   "driver_gap_s": "s", "executor_run_s": "s",
                   "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                   "task_skew": "ratio"}
    units = {f"stage.{st}.{k}": spark_units[k] for st in STAGES for k in SPARK_KEYS}
    units.update({
        "chunk.s": "s", "chunk.executor_run_s": "s", "chunk.chunks_out": "count",
        "extract.s": "s", "extract.executor_run_s": "s",
        "extract.mentions_out": "count", "extract.relationships_out": "count",
        "extract.empty_chunk_share": "ratio",
        "canonicalize.s": "s", "canonicalize.executor_run_s": "s",
        "canonicalize.forms": "count", "canonicalize.lsh_candidates": "count",
        "canonicalize.verified_pairs": "count", "canonicalize.verify_yield": "ratio",
        "canonicalize.entities_out": "count",
        "triples.s": "s", "triples.executor_run_s": "s",
        "triples.edges_out": "count", "triples.observations_out": "count",
        "materialize.write_s": "s", "materialize.writes": "count",
        "materialize.lineage_s": "s",
        "ingest.batch_s": "s", "ingest.jobs_per_batch": "count",
        "ingest.resent_skipped": "count",
        "refresh.s": "s", "refresh.jobs": "count", "refresh.driver_gap_s": "s",
        "query.p50_ms": "ms", "query.samples": "count",
        "trace.cold_s": "s", "trace.work_s": "s",
    })
    for r in READS:
        units[f"query.{r}_ms"] = "ms"
        units[f"query.{r}_jobs"] = "count"
    return units


# --- environment ------------------------------------------------------------

def cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_gb() -> int:
    """Driver heap that leaves the box room for the Python workers: a
    quarter of physical memory, between 2 and 8 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def prepare_env(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``tmp``."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    # the short-lived JVM spark-submit runs to build the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def make_spark(tmp: str, trace: bool):
    from metal_history_knowledge_graph_spark.session import get_spark

    n = cores()
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_confs={
            "spark.driver.memory": f"{heap_gb()}g",
            # workers import the package from the repository, whatever
            # the working directory
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.local.dir": os.path.join(tmp, "local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                # the whole heap is committed at start, as on a production
                # executor, so peak RSS does not depend on when G1 grows it
                f"-Xms{heap_gb()}g -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
            # the REST API the traced run reads needs the UI, and every
            # job and stage of the run kept in its status store
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # file-sized input splits, as bench.py uses
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(128 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def remove_stale_roots(root: str) -> None:
    """Remove run roots left by runs that were killed."""
    for d in os.listdir(root):
        pid = d.rsplit("-", 1)[-1]
        if d.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


# --- inputs -----------------------------------------------------------------

@functools.cache
def _package_digest() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(REPO, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def corpus(profile: str, seed: int, role: str, ids: list[int]) -> str:
    """Parquet pages for ``ids``, cached under .work/corpus. Rows are
    ``sources.corpus.build_page`` — the row function of
    ``generate_pages`` — written without Spark, so that no Spark work
    runs in the measured process before its first timed operation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from metal_history_knowledge_graph_spark.sources.corpus import build_page

    key = hashlib.sha1(f"{profile}|{seed}|{ids}|{_package_digest()}".encode()).hexdigest()
    path = os.path.join(WORK, "corpus", f"{role}-{profile}-s{seed}-{key[:12]}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    pages = [build_page(i, seed, profile) for i in ids]
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    table = pa.table({c: [p[c] for p in pages] for c in schema.names}, schema=schema)
    tmp = f"{path}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    files = min(CORPUS_FILES, len(pages))
    for f in range(files):
        lo, hi = f * len(pages) // files, (f + 1) * len(pages) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(tmp, f"part-{f:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    if os.path.exists(path):          # a concurrent run wrote it first
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, path)
    return path


# --- operations -------------------------------------------------------------

class Run:
    """State of one benchmark run: session, store, tracer and the
    attempted/failed operation counts."""

    def __init__(self, workload: str, seed: int, trace: bool, tmp: str):
        self.workload, self.seed, self.trace, self.tmp = workload, seed, trace, tmp
        self.tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}", trace)
        self.attempted = 0
        self.failed = 0
        self.layers: dict[str, float] = {}
        self.summary: list[str] = []
        self.setup_s = self.cold_s = self.work_s = 0.0
        self.spark = None
        self.groups = None
        self._group_stats = None

    def start(self):
        self.spark = make_spark(self.tmp, self.trace)
        if self.trace:
            self.groups = SparkGroups(self.spark)

    def new_store(self, name: str):
        from metal_history_knowledge_graph_spark.io import TableStore

        root = os.path.join(self.tmp, name)
        if not self.trace:
            return TableStore(self.spark, root)
        tracer = self.tracer

        class TracedStore(TableStore):
            def write(self, df, name, partition_by=None):
                with tracer.span("store.write"):
                    super().write(df, name, partition_by)

            def append(self, df, name, partition_by=None):
                with tracer.span("store.append"):
                    super().append(df, name, partition_by)

        return TracedStore(self.spark, root)

    def group_stats(self) -> dict[str, dict[str, float]]:
        """Counters of every job group, read once all groups have run."""
        if self._group_stats is None:
            self._group_stats = self.groups.collect()
        return self._group_stats

    def group(self, name: str):
        return self.groups.group(name) if self.trace else contextlib.nullcontext()

    def op(self, name: str, fn) -> tuple[float, object]:
        """Time one operation; an exception counts it as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            out = None
        return time.perf_counter() - t0, out

    def fail(self, n: int, why: str) -> None:
        print(f"check failed: {why}", file=sys.stderr)
        self.failed += n

    def materialize_wrappers(self):
        """Spans on the lineage calls ``plans.pipeline`` and
        ``streaming.incremental`` make (traced run only)."""
        if not self.trace:
            return contextlib.nullcontext()
        from metal_history_knowledge_graph_spark.plans import pipeline as P
        from metal_history_knowledge_graph_spark.streaming import incremental as I

        stack = contextlib.ExitStack()
        stack.enter_context(wrapped(self.tracer, P, [
            "commit_partition_lineage", "commit_stage", "stage_complete"], "lineage."))
        stack.enter_context(wrapped(self.tracer, I, ["commit_stage"], "lineage."))
        return stack


def pipeline_run(r: Run, pages, store, run_id: str) -> None:
    """``plans.pipeline.run``; traced, it is driven stage by stage, each
    stage under its own job group."""
    from metal_history_knowledge_graph_spark.plans import pipeline as P

    if not r.trace:
        P.run(r.spark, pages, store, run_id=run_id, resume=False)
        return
    for i, stage in enumerate(STAGES):
        with r.group(f"stage.{stage}"), r.tracer.span(f"pipeline.{stage}"):
            P.run(r.spark, pages, store, run_id=run_id, resume=i > 0, until_stage=stage)


def check_prf(r: Run, store, n_pages: int, profile: str) -> str | None:
    from metal_history_knowledge_graph_spark.plans.quality import triple_prf
    from metal_history_knowledge_graph_spark.sources.corpus import generate_truth

    # cut once: triple_prf scans it four times
    truth = generate_truth(r.spark, n_pages, seed=r.seed, partitions=cores(),
                           profile=profile).localCheckpoint(eager=True)
    prf = triple_prf(store.read("edges"), truth, store.read("entities"))
    r.summary.append(f"P={prf['precision']:.4f} R={prf['recall']:.4f} "
                     f"triples={prf['n_edges']}")
    if prf["precision"] != 1.0 or prf["recall"] != 1.0:
        return f"triple P/R {prf['precision']:.4f}/{prf['recall']:.4f} != 1.0"
    return None


# --- per-layer probes (traced run only) --------------------------------------

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_layers(r: Run, store, pages_path: str, graph: bool) -> None:
    """Time each layer's public functions over its committed input into a
    ``noop`` sink, each under its own job group; counts come from the
    committed tables. ``graph`` adds canonicalize and triples."""
    from metal_history_knowledge_graph_spark.operators import canonicalize as C
    from metal_history_knowledge_graph_spark.operators.chunk import chunk_pages
    from metal_history_knowledge_graph_spark.operators.extract import (
        extract_chunks, mentions_of, relationships_of)
    from metal_history_knowledge_graph_spark.operators.triples import (
        build_triples, finalize_edges)

    spark, L = r.spark, r.layers
    with r.group("probe.chunk"):
        noop(chunk_pages(spark.read.parquet(pages_path)))
    chunks = store.read("chunks")
    n_chunks = chunks.count()
    L["chunk.chunks_out"] = n_chunks
    with r.group("probe.extract"):
        noop(extract_chunks(chunks))
    extracted = store.read("extracted")
    kinds = {k: n for k, n in extracted.groupBy("kind").count().collect()}
    L["extract.mentions_out"] = kinds.get("mention", 0)
    L["extract.relationships_out"] = kinds.get("rel", 0)
    with_rows = extracted.select("chunk_id").distinct().count()
    L["extract.empty_chunk_share"] = 1.0 - with_rows / n_chunks if n_chunks else 0.0
    if not graph:
        return
    mentions = mentions_of(extracted)
    with r.group("probe.canonicalize"):
        ents, _, prov = C.canonicalize_core(mentions, spark)
        noop(prov)
    forms = C.surface_forms(mentions).localCheckpoint(eager=True)
    pairs = C.candidate_pairs_lsh(forms).localCheckpoint(eager=True)
    L["canonicalize.forms"] = forms.count()
    L["canonicalize.lsh_candidates"] = pairs.count()
    L["canonicalize.verified_pairs"] = C.verify_pairs(pairs).count()
    L["canonicalize.verify_yield"] = (
        L["canonicalize.verified_pairs"] / L["canonicalize.lsh_candidates"]
        if L["canonicalize.lsh_candidates"] else 0.0)
    L["canonicalize.entities_out"] = ents.count()
    with r.group("probe.triples"):
        rep, edge_prov = build_triples(relationships_of(extracted),
                                       store.read("entities"), store.read("resolution"))
        noop(edge_prov)
        noop(finalize_edges(rep, store.read("edge_provenance")))
    L["triples.edges_out"] = store.read("edges").count()
    L["triples.observations_out"] = store.read("edge_provenance").count()


# --- workloads ----------------------------------------------------------------

def ingest(r: Run) -> None:
    """INGEST_BATCHES heavy-page ``streaming.incremental.ingest_batch``
    calls; batches after the first re-send INGEST_RESEND ingested urls.
    The first batch runs in a fresh JVM (cold_s); work_s is all batches."""
    rng = random.Random(r.seed)
    batches, sent = [], 0
    for b in range(INGEST_BATCHES):
        new = list(range(b * INGEST_BATCH_PAGES, (b + 1) * INGEST_BATCH_PAGES))
        resend = sorted(rng.sample(range(b * INGEST_BATCH_PAGES), INGEST_RESEND)) if b else []
        batches.append(corpus("heavy", r.seed, f"ingest{b}", new + resend))
        sent += len(new) + len(resend)
    n_pages = INGEST_BATCHES * INGEST_BATCH_PAGES
    probe = corpus("heavy", r.seed, "ingest-all", list(range(n_pages)))

    from pyspark.sql import functions as F

    from metal_history_knowledge_graph_spark.streaming.incremental import ingest_batch

    t0 = time.perf_counter()
    r.start()
    store = r.new_store("store")
    r.setup_s = time.perf_counter() - t0

    walls = []
    with r.materialize_wrappers():
        for b, path in enumerate(batches):
            with r.group(f"ingest.{b}"):
                secs, _ = r.op("ingest_batch", lambda: ingest_batch(
                    store, r.spark.read.parquet(path), "ingest", b))
            walls.append(secs)
    r.cold_s, r.work_s = walls[0], sum(walls)
    warm_p50 = statistics.median(walls[1:])
    r.summary.insert(0, f"ingest_s={r.work_s:.3f} s (batches: "
                        + ", ".join(f"{w:.2f}" for w in walls)
                        + f") | warm batch p50={warm_p50:.3f} s (n={len(walls) - 1})")

    urls = store.read("processed_urls").groupBy("url").agg(F.count("*").alias("n"))
    n_urls, max_rows = urls.agg(F.count("*"), F.max("n")).collect()[0]
    if r.failed == 0 and (n_urls != n_pages or max_rows != 1):
        r.fail(INGEST_BATCHES, f"processed_urls has {n_urls} urls (up to {max_rows} "
                               f"rows per url), expected {n_pages} once each")
    if r.trace:
        probe_layers(r, store, probe, graph=False)
        g = r.group_stats()
        r.layers["ingest.batch_s"] = warm_p50
        r.layers["ingest.jobs_per_batch"] = statistics.mean(
            g[f"ingest.{b}"]["jobs"] for b in range(INGEST_BATCHES))
        r.layers["ingest.resent_skipped"] = sent - n_urls


def _reads(spark, store, node_id: int):
    from metal_history_knowledge_graph_spark.operators import validate as V
    from metal_history_knowledge_graph_spark.operators.embeddings import embed_entities
    from metal_history_knowledge_graph_spark.operators.intent import intent_search
    from metal_history_knowledge_graph_spark.plans import queries as Q

    ents, edges = (lambda: store.read("entities")), (lambda: store.read("edges"))
    return {
        "degree_stats": lambda: Q.degree_stats(edges()),
        "genre_popularity": lambda: Q.genre_popularity(edges()),
        "bands_per_decade": lambda: Q.bands_per_decade(ents()),
        "shared_members": lambda: Q.shared_members(edges()),
        "influence_chains": lambda: Q.influence_chains(edges()),
        "substring_search": lambda: Q.substring_search(ents(), "sab"),
        "band_members": lambda: Q.band_members(edges(), "Black Sabbath"),
        "neighborhood": lambda: Q.neighborhood(edges(), node_id, depth=2),
        "validate_entities": lambda: V.validate_entities(ents()),
        "referential_integrity": lambda: V.referential_integrity(ents(), edges()),
        "intent_search": lambda: intent_search(
            spark, ents(), embed_entities(ents()), edges(), "bands similar to sabbath"),
    }


def _digest(rows) -> str:
    return hashlib.sha1("\n".join(sorted(repr(tuple(x)) for x in rows)).encode()).hexdigest()


def graph(r: Run) -> None:
    """A cold ``plans.pipeline.run`` over BUILD_PAGES default pages
    (cold_s), then READ_MIXES passes of the read mix by one closed-loop
    client; work_s is the build plus every read. The traced run then adds one
    ``run_incremental`` of REFRESH_PAGES new plus REFRESH_RESEND re-sent
    pages."""
    build_path = corpus("default", r.seed, "build", list(range(BUILD_PAGES)))

    from pyspark.sql import functions as F

    from metal_history_knowledge_graph_spark.plans import pipeline as P

    t0 = time.perf_counter()
    r.start()
    pages = r.spark.read.parquet(build_path)
    store = r.new_store("store")
    r.setup_s = time.perf_counter() - t0

    with r.materialize_wrappers():
        r.cold_s, _ = r.op("build", lambda: pipeline_run(r, pages, store, "build"))
    if r.failed == 0:
        bad = check_prf(r, store, BUILD_PAGES, "default")
        mism = store.read("chunks").filter(~F.col("text_matches_crawl")).count()
        if bad or mism:
            r.fail(1, bad or f"{mism} chunks with text_matches_crawl false")

    node = (store.read("entities")
            .filter((F.col("entity_type") == "bands") & (F.col("name_norm") == "black sabbath"))
            .select("canonical_id").collect())
    reads = _reads(r.spark, store, node[0][0] if node else -1)
    read_ms, first = {q: [] for q in READS}, {}
    for m in range(READ_MIXES):
        for q, plan in reads.items():
            with r.group(f"read.{q}.{m}"):
                secs, rows = r.op(f"read.{q}", lambda: plan().collect())
            read_ms[q].append(secs * 1000.0)
            if rows is not None and first.setdefault(q, _digest(rows)) != _digest(rows):
                r.fail(1, f"read {q} returned different rows on repeat")
    samples = [v for vs in read_ms.values() for v in vs]
    p50 = statistics.median(samples)
    r.work_s = r.cold_s + sum(samples) / 1000.0
    r.summary.insert(0, f"build_s={r.cold_s:.3f} s (n=1) | query_p50_ms={p50:.1f} ms "
                        f"(n={len(samples)})")
    if not r.trace:
        return

    # traced run only: one refresh for the refresh.* counters, checked
    # like the build; the untraced run leaves it out to fit the time budget
    n_pages = BUILD_PAGES + REFRESH_PAGES
    resend = sorted(random.Random(r.seed).sample(range(BUILD_PAGES), REFRESH_RESEND))
    refresh_path = corpus("default", r.seed, "refresh",
                          list(range(BUILD_PAGES, n_pages)) + resend)
    with r.materialize_wrappers(), r.group("refresh"):
        refresh_s, _ = r.op("refresh", lambda: P.run_incremental(
            r.spark, r.spark.read.parquet(refresh_path), store, "refresh"))
    bad = check_prf(r, store, n_pages, "default")
    if bad:
        r.fail(1, bad)
    probe_layers(r, store, corpus("default", r.seed, "graph-all", list(range(n_pages))),
                 graph=True)
    g = r.group_stats()
    r.layers["refresh.s"] = refresh_s
    r.layers["refresh.jobs"] = g["refresh"]["jobs"]
    r.layers["refresh.driver_gap_s"] = g["refresh"]["driver_gap_s"]
    for q in READS:
        r.layers[f"query.{q}_ms"] = statistics.median(read_ms[q])
        r.layers[f"query.{q}_jobs"] = statistics.median(
            g[f"read.{q}.{m}"]["jobs"] for m in range(READ_MIXES))
    r.layers["query.p50_ms"] = p50
    r.layers["query.samples"] = len(samples)


WORKLOADS = {"graph": graph, "ingest": ingest}


# --- main ---------------------------------------------------------------------

def layer_metrics(r: Run) -> dict[str, float]:
    """Every per-layer metric; 0 where the workload does not run a layer."""
    out = {k: 0.0 for k in per_layer_units()}
    groups = r.group_stats()
    for st in STAGES:
        for k, v in groups.get(f"stage.{st}", {}).items():
            out[f"stage.{st}.{k}"] = v
    for layer in ("chunk", "extract", "canonicalize", "triples"):
        g = groups.get(f"probe.{layer}")
        if g:
            out[f"{layer}.s"] = g["s"]
            out[f"{layer}.executor_run_s"] = g["executor_run_s"]
    t = r.tracer
    w_s, w_n = t.total("store.write")
    a_s, a_n = t.total("store.append")
    out["materialize.write_s"], out["materialize.writes"] = w_s + a_s, w_n + a_n
    out["materialize.lineage_s"] = sum(t.total(f"lineage.{n}")[0] for n in (
        "commit_partition_lineage", "commit_stage", "stage_complete"))
    out["trace.cold_s"], out["trace.work_s"] = r.cold_s, r.work_s
    out.update(r.layers)
    return {k: float(v) for k, v in out.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30,
                    help="nominal run length; each workload does a fixed "
                         "amount of work sized to about this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)

    roots = os.path.join(WORK, "tmp")
    os.makedirs(roots, exist_ok=True)
    os.makedirs(os.path.join(WORK, "corpus"), exist_ok=True)
    remove_stale_roots(roots)
    tmp = tempfile.mkdtemp(prefix="run-", suffix=f"-{os.getpid()}", dir=roots)
    prepare_env(tmp)
    r = Run(args.workload, args.seed, bool(args.trace), tmp)
    j0 = cpu_jiffies()
    try:
        with PeakRss() as rss:
            WORKLOADS[args.workload](r)
            metrics = layer_metrics(r) if r.trace else None
            if r.spark is not None:
                stop_spark(r.spark)
                r.spark = None
    finally:
        if r.spark is not None:
            stop_spark(r.spark)
        shutil.rmtree(tmp, ignore_errors=True)

    d = [b - a for a, b in zip(j0, cpu_jiffies())]
    r.summary.append(f"host steal={100.0 * d[7] / max(1, sum(d)):.1f}% "
                     f"busy={100.0 * (1 - (d[3] + d[4]) / max(1, sum(d))):.0f}%")
    if r.trace:
        units = per_layer_units()
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_path = os.path.join(WORK, "traces", f"{r.tracer.run_id}.json")
        r.tracer.dump(span_path)
        r.summary.append(f"spans={os.path.relpath(span_path, REPO)}")
    else:
        units = END_TO_END
        metrics = {"setup_s": r.setup_s, "cold_s": r.cold_s, "work_s": r.work_s,
                   "peak_rss_mb": rss.peak_mb}
    result_path = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}.json")
    m = {}
    if r.trace and os.path.isfile(result_path):
        with open(result_path) as f:
            m = json.load(f)["metrics"]
    if "cold_s" in m and "work_s" in m:
        r.summary.append(
            f"tracing overhead: cold_s {r.cold_s - m['cold_s']['value']:+.3f} s, "
            f"work_s {r.work_s - m['work_s']['value']:+.3f} s "
            f"(traced minus untraced, same seed)")
    result = {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    if not r.trace:
        os.makedirs(os.path.dirname(result_path), exist_ok=True)
        with open(result_path, "w") as f:
            json.dump(result, f)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={cores()} heap={heap_gb()}g | setup_s={r.setup_s:.3f} s | "
          + " | ".join(r.summary)
          + f" | peak_rss_mb={rss.peak_mb:.0f} MB | failed_share={r.failed}/{r.attempted}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
