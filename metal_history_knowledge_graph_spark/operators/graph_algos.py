"""Graph-analytics operators over the edge table
(``scripts/analysis/graph_metrics.py`` ports).

* connected components — :func:`components`, the package's one
  kernel (canonicalize groups its verified name pairs with it too):
  union-find on the collected pair list when it fits (pair graphs and
  graphs of canonical entities are vocabulary-sized); iterative
  min-label propagation otherwise.
* sampled betweenness — BFS shortest paths from a deterministic sample
  of sources, node frequency across path interior
  (graph_metrics.py:256-287).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

DRIVER_EDGE_LIMIT = 2_000_000
COMPONENTS_MAX_ITER = 25


def _undirected_pairs(edges: DataFrame):
    return (
        edges.select(F.col("subj_id").alias("a"), F.col("obj_id").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _union_find(pairs) -> dict:
    """{node: root} for every node of ``pairs`` (an iterable of node
    pairs), where root is the smallest node of its component: unions
    hang the larger root under the smaller, finds compress paths."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    nodes: dict = {}
    for x, y in pairs:
        nodes[x] = nodes[y] = None
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)
    return {v: find(v) for v in nodes}


def components(
    pairs: DataFrame, a: str, b: str, group: Sequence[str] = (),
    driver_edge_limit: int = DRIVER_EDGE_LIMIT,
    max_iter: int = COMPONENTS_MAX_ITER,
) -> DataFrame:
    """Connected components of the undirected (``a``, ``b``) pair graph,
    separately within each ``group`` value: ``(*group, node, label)``
    per node with an edge, ``label`` = the smallest node of its component.

    ONE action picks the path AND fetches the pairs: limit+1 rows are
    collected, and fewer than the cap back IS the whole pair set, so the
    pair lineage (LSH join + verify UDF in canonicalize) runs once; the
    driver union-finds them into a local relation. Above
    ``driver_edge_limit`` pairs, distributed min-label propagation takes
    over (one shuffle per round, localCheckpoint cuts). A label travels
    one hop per round, so ``max_iter`` must cover the widest component's
    diameter; non-convergence RAISES rather than split a component."""
    keys = [*group, "node"]
    edges = pairs.select(*group, F.col(a).alias("node"), F.col(b).alias("nbr"))
    probe = edges.limit(driver_edge_limit + 1).collect()
    if len(probe) <= driver_edge_limit:
        k = len(group)
        roots = _union_find((r[:k + 1], (*r[:k], r[k + 1])) for r in probe)
        ddl = ", ".join(f"{n} {f.dataType.simpleString()}"
                        for n, f in zip([*keys, "label"], edges.schema.fields))
        rows = [(*node, root[-1]) for node, root in roots.items()]
        return local_frame(pairs.sparkSession, rows, ddl)

    sym = edges.unionByName(
        edges.select(*group, F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    ).localCheckpoint(eager=True)
    labels = sym.select(*keys).distinct().withColumn("label", F.col("node")) \
        .localCheckpoint(eager=True)
    for _ in range(max_iter):
        # sym is symmetric, so every labelled node has a neighbour min
        neighbor_min = (
            sym.join(labels, keys)
            .groupBy(*group, F.col("nbr").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, keys)
            .select(*keys, F.least("label", "nlabel").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n").join(labels.alias("o"), keys)
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"label propagation did not converge in {max_iter} rounds "
        "(a component's diameter exceeds max_iter) — re-run with a "
        "larger max_iter"
    )


def graph_components(
    edges: DataFrame, driver_edge_limit: int = DRIVER_EDGE_LIMIT,
    max_iter: int = COMPONENTS_MAX_ITER,
) -> DataFrame:
    """(node_id, component_id) for every node that has an edge, with
    component_id = the smallest node id in the component (both long):
    :func:`components` over the undirected (subj_id, obj_id) pairs.

    Entity-graph edges are vocabulary-sized (distinct facts), so the
    driver union-find path applies at any realistic scale; the
    distributed path takes over above ``driver_edge_limit`` pairs."""
    comps = components(_undirected_pairs(edges), "a", "b", (), driver_edge_limit, max_iter)
    return comps.select(F.col("node").cast("long").alias("node_id"),
                        F.col("label").cast("long").alias("component_id"))


def component_sizes(edges: DataFrame) -> DataFrame:
    return (
        graph_components(edges)
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy(F.desc("n_nodes"), "component_id")
    )


PAGERANK_SCALE = 10**12  # fixed-point unit: 1.0 rank mass = 10^12


def pagerank(
    edges: DataFrame,
    n_iters: int = 5,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Deterministic PageRank over the directed edge table
    (subj_id → obj_id), in fixed-point integer arithmetic.

    All rank mass is a BIGINT multiple of 1/``scale``; every divide is
    an integer floor-divide, so the trajectory is bit-identical on any
    engine and any partitioning — no float summation-order noise. The
    update (simplified variant: dangling mass is dropped, documented):

        r0(v)      = scale div N
        r_{k+1}(v) = ((100-d)·scale) div (100·N)
                     + (d · Σ_{u→v} (r_k(u) div outdeg(u))) div 100

    Scale: per iteration, one join of edges against the (node, rank)
    table on ``src`` (rank table is node-sized — broadcastable for
    vocabulary-sized graphs; hash join with map-side partial sums for
    web-sized ones) and one groupBy on ``dst``. ``localCheckpoint``
    per iteration truncates the growing lineage. Magnitudes: ranks ≤
    scale = 10^12 and d·Σ ≤ 100·10^12 < 2^63, so BIGINT never overflows.

    Reference analogue: the graph-metrics centrality family
    (scripts/analysis/graph_metrics.py) — expressed as an iterative
    relational plan instead of a NetworkX call.
    """
    e = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node_id long, rank_fixed long")
    if scale // n == 0:
        # more nodes than fixed-point units → silent all-zero ranks
        # (the salsa/hits guard, ADVICE r4 #4)
        raise ValueError(
            f"pagerank: scale={scale} < n_nodes={n}; raise `scale`"
        )
    ranks = nodes.withColumn("rank_fixed", F.lit(scale // n).cast("long"))
    ranks = _pr_iterate(e, nodes, ranks, n, n_iters, damping_pct, scale)
    return ranks.select(F.col("node").alias("node_id"), "rank_fixed")


def _pr_iterate(
    e: DataFrame,
    nodes: DataFrame,
    ranks: DataFrame,
    n: int,
    n_iters: int,
    damping_pct: int,
    scale: int,
) -> DataFrame:
    """The shared PageRank power-iteration loop: (node, rank_fixed) →
    n_iters fixed-point BIGINT updates over edge table ``e``. Extracted
    so :func:`pagerank_resume` warm-starts the identical arithmetic
    (the cold-start oracle trajectory stays byte-identical)."""
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    teleport = ((100 - damping_pct) * scale) // (100 * n)
    for _ in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fixed div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                    )
                ).cast("long").alias("rank_fixed"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def pagerank_resume(
    edges: DataFrame,
    prev_ranks: DataFrame,
    n_iters: int = 2,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Incremental PageRank maintenance: re-rank the UPDATED edge
    table warm-started from a previous run's ``(node_id, rank_fixed)``
    output instead of the uniform vector — the nightly-crawl path
    (yesterday's graph plus today's edge delta) where a handful of
    warm iterations replaces a cold power-iteration run, because the
    rank vector moves little under small graph deltas (Desikan et al.
    2005, incremental PageRank; Langville–Meyer §10 restart bounds).

    Nodes absent from ``prev_ranks`` (newly discovered hosts) start at
    ``scale div N_new`` — the same mass a cold start would give them;
    departed nodes' stale rows are dropped by the inner join onto the
    current node set. Prev mass is deliberately NOT renormalized: the
    operator's contract is the exact fixed-point trajectory from the
    given start vector (that determinism is what the DuckDB oracle
    replays), and the teleport term re-injects (1−d) of the mass each
    hop so any normalization drift decays geometrically anyway.

    Scale shape: identical per-iteration cost to :func:`pagerank`
    (one src-keyed join + one dst-keyed partial agg), but typically
    run for 2–3 iterations instead of 15–20 — the warm start is the
    whole point. The prev table joins node-keyed (never broadcast —
    it is node-sized).
    """
    e = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node_id long, rank_fixed long")
    prev = prev_ranks.select(
        F.col("node_id").alias("node"), F.col("rank_fixed").alias("_prev")
    )
    ranks = nodes.join(prev, "node", "left").select(
        "node",
        F.coalesce(F.col("_prev"), F.lit(scale // n)).cast("long").alias(
            "rank_fixed"
        ),
    )
    ranks = _pr_iterate(e, nodes, ranks, n, n_iters, damping_pct, scale)
    return ranks.select(F.col("node").alias("node_id"), "rank_fixed")


def betweenness_sampled(
    edges: DataFrame, n_sources: int = 16, max_hops: int = 6,
    driver_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Approximate betweenness: BFS from a deterministic sample of
    source nodes (smallest ids — stable across runs), count how often
    each node sits on a sampled shortest path's interior
    (graph_metrics.py:256-287).

    The shortest-path tree is made well-defined in both execution
    paths by the tie-break ``parent(v) = min{p ∈ adj(v) :
    dist(p) = dist(v) − 1}``, so the driver and distributed variants
    produce identical counts.

    Edge lists up to ``driver_edge_limit`` run the in-memory BFS
    (entity graphs are vocabulary-sized); larger graphs fall back to
    the distributed frontier-join BFS (the
    plans/queries.shortest_path_length pattern, batched over all
    sampled sources at once) — no unguarded ``collect``."""
    und = _undirected_pairs(edges)
    # one action picks the path AND fetches the pairs, as components does
    rows = und.limit(driver_edge_limit + 1).collect()
    if len(rows) > driver_edge_limit:
        return _betweenness_distributed(und, n_sources, max_hops)
    adj: dict[int, list[int]] = {}
    for r in rows:
        adj.setdefault(r.a, []).append(r.b)
        adj.setdefault(r.b, []).append(r.a)
    sources = sorted(adj)[:n_sources]

    counts: dict[int, int] = {}
    for src in sources:
        # BFS levels, then min-id parent at the previous level
        dist = {src: 0}
        frontier = [src]
        d = 0
        while frontier and d < max_hops:
            nxt = []
            for node in frontier:
                for nb in adj.get(node, []):
                    if nb not in dist:
                        dist[nb] = d + 1
                        nxt.append(nb)
            frontier = nxt
            d += 1
        parent = {
            v: min(p for p in adj[v] if dist.get(p) == dv - 1)
            for v, dv in dist.items() if v != src
        }
        for dst in parent:
            node = parent[dst]
            while node != src:
                counts[node] = counts.get(node, 0) + 1
                node = parent[node]
    out = [(k, v) for k, v in sorted(counts.items())]
    spark = edges.sparkSession
    if not out:
        return spark.createDataFrame([], "node_id long, betweenness long")
    return spark.createDataFrame(out, "node_id long, betweenness long") \
        .orderBy(F.desc("betweenness"), "node_id")


def _multi_source_bfs(und: DataFrame, n_sources: int, max_hops: int):
    """Shared multi-source frontier-join BFS (used by the distributed
    betweenness sampler AND the path-length distribution — one
    implementation so the two samplers cannot drift): symmetrize the
    undirected pair list, take the ``n_sources`` smallest node ids as
    the deterministic source sample, and advance all sources together
    keyed by (bfs_src, node). Returns (sym, visited) where visited =
    (bfs_src, node, dist). n_sources·|V| state upper bound, no driver
    collect; localCheckpoint truncates per-round lineage."""
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    sources = (
        sym.select(F.col("a").alias("node")).distinct()
        .orderBy("node").limit(n_sources)
        .select(F.col("node").alias("bfs_src"))
        .localCheckpoint(eager=True)
    )
    visited = sources.select("bfs_src", F.col("bfs_src").alias("node"),
                             F.lit(0).alias("dist"))
    frontier = visited
    for d in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select("bfs_src", F.col("b").alias("node"))
            .distinct()
            .join(visited.select("bfs_src", "node"), ["bfs_src", "node"], "left_anti")
            .withColumn("dist", F.lit(d))
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
        if frontier.limit(1).count() == 0:
            break
    return sym, visited


def _betweenness_distributed(und: DataFrame, n_sources: int, max_hops: int) -> DataFrame:
    """Distributed sampled betweenness: the shared multi-source BFS
    (:func:`_multi_source_bfs`), min-parent tree, iterative
    parent-chain walk. Every step is a bounded join over (src, node)
    keys; nothing is collected to the driver."""
    spark = und.sparkSession
    sym, visited = _multi_source_bfs(und, n_sources, max_hops)
    # parent(v) = min neighbor at dist-1 (the well-defined tree)
    nonroot = visited.filter(F.col("dist") > 0)
    parents = (
        nonroot.join(sym, nonroot["node"] == sym["b"])
        .join(
            visited.select(
                "bfs_src", F.col("node").alias("a"), F.col("dist").alias("p_dist")
            ),
            ["bfs_src", "a"],
        )
        .filter(F.col("p_dist") == F.col("dist") - 1)
        .groupBy("bfs_src", "node")
        .agg(F.min("a").alias("parent"))
        .localCheckpoint(eager=True)
    )
    # walk each node's parent chain toward the source, counting interiors
    src_col = F.col("bfs_src")
    walk = parents.filter(F.col("parent") != src_col).select(
        "bfs_src", F.col("parent").alias("cur")
    )
    contribs = []
    for _ in range(max_hops):
        if walk.limit(1).count() == 0:
            break
        contribs.append(walk.select(F.col("cur").alias("node_id")))
        walk = (
            walk.join(
                parents.select("bfs_src", F.col("node").alias("cur"),
                               F.col("parent").alias("nxt")),
                ["bfs_src", "cur"],
            )
            .filter(F.col("nxt") != src_col)
            .select("bfs_src", F.col("nxt").alias("cur"))
            .localCheckpoint(eager=True)
        )
    if not contribs:
        return spark.createDataFrame([], "node_id long, betweenness long")
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return (
        allc.groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("betweenness"))
        .orderBy(F.desc("betweenness"), "node_id")
    )


# --- path analysis (graph_metrics.py:324-404) -------------------------------

def path_enumeration(
    pairs: DataFrame, max_hops: int = 4, roots: DataFrame | None = None,
) -> DataFrame:
    """Enumerate every node-simple directed path up to ``max_hops``
    (the reference's longest-influence-chain / genre-evolution queries,
    ``MATCH p = (a)-[:PRED*..k]->(b) RETURN [n IN nodes(p) | n.name]``,
    scripts/analysis/graph_metrics.py:358-399).

    ``pairs`` is a (src, dst) edge list; ``roots`` (optional, col
    ``src``) restricts starting nodes — the reference's LIMIT-sampling
    analogue. Returns (src, dst, hops, path:array<long>); cycles are
    excluded with an ``array_contains`` filter on the accumulated path
    (node-simple trail semantics — distinct entities along a chain,
    which is what "longest influence chain" means).

    Scale: per hop, ONE equi-join frontier.dst = edges.src; output is
    bounded by the predicate subgraph's fan-out^max_hops. Intended for
    vocabulary-sized predicate subgraphs (distinct INFLUENCED_BY /
    EVOLVED_INTO facts), with ``roots`` capping the frontier when the
    predicate is dense. ``localCheckpoint`` per hop truncates lineage.
    """
    e = (
        pairs.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    base = e
    if roots is not None:
        base = e.join(
            F.broadcast(roots.select(F.col("src").cast("long")).distinct()),
            "src",
        )
    cur = base.select(
        "src", "dst",
        F.array("src", "dst").alias("path"),
        F.lit(1).cast("long").alias("hops"),
    ).localCheckpoint(eager=True)
    out = cur
    ext_edges = e.select(F.col("src").alias("_hop_src"), F.col("dst").alias("_nxt"))
    for h in range(2, max_hops + 1):
        if cur.limit(1).count() == 0:
            break
        cur = (
            cur.join(ext_edges, cur["dst"] == ext_edges["_hop_src"])
            .filter(~F.array_contains(F.col("path"), F.col("_nxt")))
            .select(
                "src",
                F.col("_nxt").alias("dst"),
                F.concat(F.col("path"), F.array(F.col("_nxt"))).alias("path"),
                F.lit(h).cast("long").alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(cur)
    return out


def longest_chains(
    edges: DataFrame, pred: str = "INFLUENCED_BY", max_hops: int = 4,
    top_n: int = 20,
) -> DataFrame:
    """Longest chains of a predicate with the full node-name path —
    graph_metrics.py:358-377 (influence chains) and 380-399 (genre
    evolution) as one operator. Returns (hops, chain:array<string>,
    chain_str) ordered longest-first with a deterministic tie-break.

    Names are attached set-oriented: posexplode the id-paths, ONE
    broadcast join against the vocabulary-sized id→name dim built from
    the edge endpoints, regroup ordered by position — no per-path
    lookups."""
    pe = edges.filter(F.col("pred") == pred)
    pairs = pe.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
    names = (
        pe.select(F.col("subj_id").alias("node"), F.col("subj_name").alias("name"))
        .unionByName(
            pe.select(F.col("obj_id").alias("node"), F.col("obj_name").alias("name"))
        )
        .groupBy("node").agg(F.min("name").alias("name"))
    )
    paths = path_enumeration(pairs, max_hops=max_hops)
    exploded = paths.select(
        "path", "hops", F.posexplode("path").alias("pos", "node")
    )
    named = (
        exploded.join(F.broadcast(names), "node")
        .groupBy("path", "hops")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "name"))),
                lambda s: s["name"],
            ).alias("chain")
        )
    )
    return (
        named.select(
            "hops",
            "chain",
            F.array_join("chain", " -> ").alias("chain_str"),
        )
        .orderBy(F.desc("hops"), "chain_str")
        .limit(top_n)
    )


def path_length_distribution(
    edges: DataFrame, n_sources: int = 16, max_hops: int = 8,
) -> DataFrame:
    """Shortest-path-length distribution over sampled node pairs —
    graph_metrics.py:330-356 (``shortestPath((n)-(m))`` over a pair
    sample, then avg/median/max/Counter). Undirected, min-hop BFS from
    the ``n_sources`` smallest node ids (deterministic sample, same
    rule as betweenness_sampled); pairs are (root, node) with
    node > root, mirroring the reference's ``n.id < m.id``. Returns
    (hops, n_pairs); avg/median/max are derivable (the Counter IS the
    reference's ``distribution`` output).

    Scale: the frontier-join BFS batches all sources in one DataFrame
    keyed by (bfs_src, node) — n_sources·|V| state upper bound, no
    driver collect."""
    und = _undirected_pairs(edges)
    _sym, visited = _multi_source_bfs(und, n_sources, max_hops)
    return (
        visited.filter(F.col("node") > F.col("bfs_src"))
        .groupBy(F.col("dist").cast("long").alias("hops"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hops")
    )


def core_numbers(
    edges: DataFrame, n_rounds: int = 10, check_convergence: bool = True
) -> DataFrame:
    """k-core decomposition: (node_id, core) where ``core`` is the
    largest k such that the node survives in the k-core (the maximal
    subgraph where every node has undirected degree ≥ k).

    Algorithm: h-index iteration (Lü/Zhou/Zhang/Stanley, Nature
    Communications 2016) — start every node at its degree, then
    repeatedly replace each node's value with the H-operator of its
    neighbours' values (the largest h such that ≥ h neighbours hold
    value ≥ h). Started from degrees the sequence is monotonically
    non-increasing and its fixed point IS the core number, so a fixed
    number of rounds replays bit-exactly on any engine — no peeling
    order to agree on, which is what makes the exact DuckDB oracle
    possible (the classic sequential peel visits min-degree nodes in
    an arbitrary order).

    Scale shape (100 TB graphs): per round one node-keyed hash join of
    the symmetrized edge table against the node-sized value table and
    one window rank partitioned by node — the H-operator is computed
    as max(least(rank, value)) over neighbours sorted by value desc,
    never a per-node collect_list (a hub with 10^7 neighbours would
    OOM an array; a sort-based window just spills). localCheckpoint
    per round truncates the iterative lineage.

    Reference analogue: the graph-metrics density/centrality family
    (scripts/analysis/graph_metrics.py) — core structure as an
    iterative relational plan instead of a NetworkX call.

    Raises on non-convergence within ``n_rounds`` (one extra
    comparison round) rather than returning values that are still
    upper bounds.
    """
    from pyspark.sql import Window

    und = (
        _undirected_pairs(edges)
        .select("a", "b")
        .unionByName(_undirected_pairs(edges).select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("h"))
    prev = None
    w = Window.partitionBy("a").orderBy(F.desc("hv"), "b")
    for _ in range(n_rounds):
        nb = und.join(
            h.select(F.col("a").alias("b"), F.col("h").alias("hv")), "b"
        )
        prev = h
        h = (
            nb.select(
                "a",
                F.least(F.row_number().over(w).cast("long"), F.col("hv")).alias("m"),
            )
            .groupBy("a")
            .agg(F.max("m").alias("h"))
            .localCheckpoint(eager=True)
        )
    if check_convergence and prev is not None:
        n_changed = (
            h.join(prev.select(F.col("a"), F.col("h").alias("h_prev")), "a")
            .filter(F.col("h") != F.col("h_prev"))
            .count()
        )
        if n_changed:
            raise RuntimeError(
                f"core_numbers: {n_changed} nodes still changing after "
                f"{n_rounds} rounds — raise n_rounds"
            )
    return h.select(F.col("a").alias("node_id"), F.col("h").alias("core"))


def truss_edges(
    edges: DataFrame, k: int, n_rounds: int = 8, check_convergence: bool = True
) -> DataFrame:
    """k-truss of the undirected graph: the maximal subgraph in which
    every surviving edge participates in ≥ k−2 triangles — the
    edge-level tightening of k-core (a k-truss is always inside the
    (k−1)-core but prunes far more aggressively: cohesive communities
    over hub-dominated stars). Returns the surviving canonical edge
    set (a < b).

    Algorithm: SYNCHRONOUS support peeling — each round recomputes
    every edge's triangle support within the current subgraph and
    removes ALL sub-threshold edges at once (Cohen 2008's peel, made
    order-free: the classic sequential removal visits edges in an
    arbitrary order no two engines would agree on; the synchronous
    cascade is a deterministic monotone fixed point, the same property
    that makes :func:`core_numbers`' h-index iteration oracle-able).
    A fixed ``n_rounds`` therefore replays bit-exactly as chained SQL
    CTEs; raises if the cascade is still moving after them.

    Scale shape (100 TB edge tables): triangles are enumerated once
    per round via the canonical ordered-wedge join — E(x,y)⋈E(y,z) on
    the middle node then a semi-check of (x,z), every triangle found
    exactly once (x<y<z), never an all-pairs neighbour product; the
    3-edge fan-out is a constant; support is one partial-agg groupBy
    keyed by the 16-byte edge; localCheckpoint per round truncates the
    iterative lineage. Per-round cost ≈ one triangle count — the same
    plan q_triangles runs once.

    Reference analogue: the graph-metrics cohesion family
    (scripts/analysis/graph_metrics.py) beyond what NetworkX offered
    the reference; first-class here because dense near-duplicate
    clusters in link/co-citation graphs are exactly what truss
    filtering isolates.
    """
    if k < 3:
        raise ValueError(f"k must be ≥ 3 for a k-truss: {k}")
    und = _undirected_pairs(edges)
    e = (
        und.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    thresh = k - 2
    prev_n = e.count()
    converged = False
    for _ in range(n_rounds):
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        sup = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("_sup"))
        )
        e = (
            e.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("_sup"), F.lit(0)) >= thresh)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        n = e.count()
        if n == prev_n:
            converged = True
            break
        prev_n = n
    if check_convergence and not converged:
        # one more support pass to verify the fixed point
        e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
        e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
        tri = e1.join(e2, "y").join(e3, ["x", "z"])
        sup = (
            tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
            .unionAll(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
            .unionAll(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("_sup"))
        )
        n_below = (
            e.join(sup, ["a", "b"], "left")
            .filter(F.coalesce(F.col("_sup"), F.lit(0)) < thresh)
            .count()
        )
        if n_below:
            raise RuntimeError(
                f"truss_edges: {n_below} edges still below support "
                f"{thresh} after {n_rounds} rounds — raise n_rounds"
            )
    return e


def components_incremental(
    labels: DataFrame,
    new_edges: DataFrame,
    driver_comp_edge_limit: int = 2_000_000,
) -> DataFrame:
    """Fold a NEW edge batch into stored connected-component labels
    WITHOUT re-running label propagation over the full graph — the
    graph twin of the incremental MinHash/SimHash/IVF maintenance
    paths: per crawl batch, touch work proportional to the batch and
    the component graph, never the accumulated edge set.

    ``labels`` is (node_id, component_id) with component_id = min node
    id in the component (the graph_components/q_components convention);
    the result equals ``graph_components(old_edges ∪ new_edges)``
    exactly (pinned in test_kcore's sibling test): a new edge can only
    change components by (a) attaching unseen nodes or (b) merging
    existing components it bridges, and both effects are visible in
    the COMPONENT-graph — batch edges projected to component ids — a
    table bounded by the batch size, not the graph.

    Plan: one broadcast-sized join of the batch endpoints against the
    label table (at scale: the label table is node-sized — sort-merge
    on node_id; the batch side is small), a distinct component-pair
    projection collected to the driver (≤ batch size rows; raises
    above ``driver_comp_edge_limit`` — at that point run the full
    distributed recompute instead), min-root union-find, and one
    broadcast remap join. The min-root union keeps component_id = the
    global min node id, so incremental and full recompute are
    bit-identical."""
    und = _undirected_pairs(new_edges)
    la = labels.select(F.col("node_id").alias("a"),
                       F.col("component_id").alias("ca"))
    lb = labels.select(F.col("node_id").alias("b"),
                       F.col("component_id").alias("cb"))
    comp_edges = (
        und.join(la, "a", "left")
        .join(lb, "b", "left")
        .select(
            F.coalesce("ca", "a").alias("x"),
            F.coalesce("cb", "b").alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    rows = comp_edges.limit(driver_comp_edge_limit + 1).collect()
    if len(rows) > driver_comp_edge_limit:
        raise RuntimeError(
            "components_incremental: batch bridges more than "
            f"{driver_comp_edge_limit} component pairs — run the full "
            "distributed graph_components instead"
        )
    # min roots keep component_id the global min node id
    roots = _union_find((r.x, r.y) for r in rows)
    remap = [(c, root) for c, root in roots.items() if c != root]
    new_nodes = (
        und.select(F.col("a").alias("node_id"))
        .unionByName(und.select(F.col("b").alias("node_id")))
        .distinct()
        .join(labels.select("node_id"), "node_id", "left_anti")
        .select("node_id", F.col("node_id").alias("component_id"))
    )
    all_labels = labels.unionByName(new_nodes)
    if not remap:
        return all_labels
    remap_df = local_frame(labels.sparkSession, remap, "old_comp long, new_comp long")
    return (
        all_labels.join(
            F.broadcast(remap_df),
            all_labels["component_id"] == remap_df["old_comp"],
            "left",
        )
        .select(
            "node_id",
            F.coalesce("new_comp", "component_id").alias("component_id"),
        )
    )


HITS_SCALE = 10**9  # fixed-point unit for hub/authority mass


def hits(
    edges: DataFrame,
    n_iters: int = 5,
    scale: int = HITS_SCALE,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """Deterministic HITS (Kleinberg hubs-and-authorities) over the
    directed edge table, in fixed-point BIGINT arithmetic — the
    second host-authority signal next to :func:`pagerank` (hubs =
    link directories, authorities = heavily-cited hosts; the pair
    separates the two roles PageRank conflates).

    Trajectory (exact L1 normalization each half-step, every divide
    an integer floor-divide, so any engine replays it bit-exactly):

        h0(u)      = scale div N
        a_raw(v)   = Σ_{u→v} h(u);   a(v) = (a_raw(v)·scale) div ΣA
        h_raw(u)   = Σ_{u→v} a(v);   h(u) = (h_raw(u)·scale) div ΣH

    Magnitude proof (no BIGINT overflow, ever): after each
    normalization Σ values ≤ scale, so every raw value ≤ scale and
    every product value·scale ≤ scale² = 10^18 < 2^63; the
    normalization totals are Σ_u raw(u) ≤ max_degree·scale, safe for
    max degree < 9·10^9. This is why ``scale`` is 10^9 here and not
    pagerank's 10^12 — HITS multiplies by ``scale`` during
    normalization where pagerank only floor-divides.

    Scale shape: per iteration two node-keyed hash joins of the edge
    table against node-sized score tables and two partial-agg
    groupBys; the L1 total per half-step is a 1-row aggregate folded
    back via broadcast cross-join (in-plan — no driver collect on the
    iteration path); ``localCheckpoint`` per iteration truncates the
    iterative lineage. Node ids may be any equi-joinable type
    (BIGINT entity ids or host strings alike).

    Reference analogue: the graph-metrics centrality family
    (scripts/analysis/graph_metrics.py) — expressed as an iterative
    relational plan instead of a NetworkX call.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame(
            [], f"node_id {dict(edges.select(F.col(src_col).alias('x')).dtypes)['x']}, "
                "hub_fixed long, auth_fixed long"
        )
    if scale // n == 0:
        # same all-zero-silence guard as salsa (ADVICE r4 #4)
        raise ValueError(
            f"hits: scale={scale} < n_nodes={n}; raise `scale` so "
            "scale // n >= 1 (each node needs >= 1 fixed-point unit)"
        )
    hubs = nodes.withColumn("h", F.lit(scale // n).cast("long"))
    auths = None
    # L1 normalizers stay IN-PLAN: the half-step total is a 1-row
    # aggregate cross-joined back as a broadcast (the bm25 totals
    # pattern) instead of a scalar .collect() — so each half-step is
    # ONE job (the eager checkpoint), not a checkpoint + a collect,
    # and the iteration count stays off the driver's critical path.
    # Arithmetic is unchanged (integer floor-divide of the same
    # BIGINT sums), so trajectories are bit-identical to the collect
    # formulation — pinned by the float-reference test and the q_hits
    # DuckDB replay. greatest(tot, 1) replays max(tot, 1); the raw
    # table is checkpointed because two consumers (the total and the
    # normalize join) would otherwise re-run the edge join.
    for _ in range(n_iters):
        a_raw = (
            e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("h").alias("raw"))
        ).localCheckpoint(eager=True)
        tot_a = a_raw.agg(F.coalesce(F.sum("raw"), F.lit(0)).alias("_tot"))
        auths = nodes.join(a_raw, "node", "left").crossJoin(
            F.broadcast(tot_a)
        ).select(
            "node",
            F.expr(f"(coalesce(raw, 0L) * {scale}L) div greatest(_tot, 1L)")
            .cast("long").alias("a"),
        ).localCheckpoint(eager=True)
        h_raw = (
            e.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("a").alias("raw"))
        ).localCheckpoint(eager=True)
        tot_h = h_raw.agg(F.coalesce(F.sum("raw"), F.lit(0)).alias("_tot"))
        hubs = nodes.join(h_raw, "node", "left").crossJoin(
            F.broadcast(tot_h)
        ).select(
            "node",
            F.expr(f"(coalesce(raw, 0L) * {scale}L) div greatest(_tot, 1L)")
            .cast("long").alias("h"),
        ).localCheckpoint(eager=True)
    return (
        hubs.join(auths, "node")
        .select(
            F.col("node").alias("node_id"),
            F.col("h").alias("hub_fixed"),
            F.col("a").alias("auth_fixed"),
        )
    )


def harmonic_sampled(
    edges: DataFrame,
    n_sources: int = 16,
    max_hops: int = 6,
    scale: int = 10**9,
) -> DataFrame:
    """Sampled harmonic centrality: ``H(v) = Σ_s 1/d(s, v)`` over the
    deterministic source sample (the ``n_sources`` smallest node ids —
    the same sample and the same shared multi-source BFS the
    betweenness sampler uses, so the two centralities cannot disagree
    about distances). Harmonic is the closeness variant that stays
    well-defined on DISCONNECTED graphs (unreachable pairs contribute
    0 instead of poisoning a mean) — the right centrality for a web
    host graph, which is never one component.

    Fixed-point BIGINT: each reachable source contributes
    ``scale div d`` — floor-divided, so the value replays bit-exactly
    in SQL. Max value = n_sources·scale, far under 2^63.

    Scale shape: the BFS is |sample|·|V| bounded state advanced by
    frontier joins (no driver collect); the roll-up is one
    partial-agg groupBy on node. Nodes unreached by every source
    report 0 (present, not missing)."""
    und = _undirected_pairs(edges)
    sym, visited = _multi_source_bfs(und, n_sources, max_hops)
    contrib = (
        visited.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(F.sum(F.expr(f"{scale}L div cast(dist as long)")).alias("h"))
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    return (
        nodes.join(contrib, "node", "left")
        .select(
            F.col("node").alias("node_id"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("harmonic_fixed"),
        )
    )


def link_prediction(
    edges: DataFrame,
    min_common: int = 1,
    scale: int = 1000,
) -> DataFrame:
    """Common-neighbor link prediction over the undirected graph:
    for every NON-adjacent pair with ≥ ``min_common`` shared
    neighbors, (node_a, node_b, n_common, jaccard_permille) where
    jaccard_permille = |Γa ∩ Γb|·scale div |Γa ∪ Γb| — the related-
    hosts / suggested-edges signal (two hosts cited by the same
    neighborhoods are related even when they never link each other).
    Integer throughout, so the SQL oracle replays it exactly.

    Scale shape — the classic triangle-style plan: common neighbors
    come from ONE self-join of the symmetrized adjacency on the
    shared middle node (wedge enumeration), grouped by the endpoint
    pair; degrees join in from a node-sized table; existing edges
    drop via a left anti. The wedge join is the O(Σ deg²) step every
    link predictor pays — cap hub degrees upstream (cap_per_group on
    the adjacency) when the graph has 10^6-degree hubs, exactly like
    the triangle counter's guidance. No driver collect anywhere."""
    # canonical a < b undirected edge set (_undirected_pairs only
    # dedups DIRECTED pairs; the anti-join below needs one row per
    # undirected edge)
    und = (
        _undirected_pairs(edges)
        .select(
            F.least(F.col("a"), F.col("b")).alias("a"),
            F.greatest(F.col("a"), F.col("b")).alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    # wedges: a - m - b with a < b; count per (a, b)
    left = sym.select(F.col("b").alias("m"), F.col("a").alias("pa"))
    right = sym.select(F.col("b").alias("m"), F.col("a").alias("pb"))
    common = (
        left.join(right, "m")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    # drop already-adjacent pairs (und holds a<b by _undirected_pairs)
    cand = common.join(
        und.select(F.col("a").alias("pa"), F.col("b").alias("pb")),
        ["pa", "pb"],
        "left_anti",
    )
    return (
        cand.join(deg.select(F.col("a").alias("pa"), F.col("deg").alias("da")), "pa")
        .join(deg.select(F.col("a").alias("pb"), F.col("deg").alias("db")), "pb")
        .select(
            F.col("pa").alias("node_a"),
            F.col("pb").alias("node_b"),
            "n_common",
            F.expr(f"(n_common * {scale}L) div (da + db - n_common)")
            .cast("long").alias("jaccard_permille"),
        )
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    n_iters: int = 5,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: teleport mass returns
    ONLY to the ``seeds`` node set, so rank measures proximity to the
    seeds — the focused-crawl scorer (seed the hosts you trust, rank
    every host by how reachable it is from them) and the related-entity
    ranker the global pagerank cannot express.

    Same fixed-point BIGINT trajectory as :func:`pagerank` (floor
    divides, dangling mass dropped), with the teleport term gated to
    seeds:

        r0(v)      = [v ∈ S] · (scale div |S|)
        r_{k+1}(v) = [v ∈ S] · ((100−d)·scale) div (100·|S|)
                     + (d · Σ_{u→v} (r_k(u) div outdeg(u))) div 100

    Non-seed nodes unreachable from S stay exactly 0 — a focused
    crawl must not spend budget there, and the oracle checks the
    zeros too. Scale shape identical to pagerank: per iteration one
    edge⋈rank join + one partial-agg groupBy, lineage truncated per
    round; seeds are vocabulary-sized (broadcast join).

    ``seeds`` carries one column ``node``; seeds absent from the
    graph still receive teleport mass (they are real pages — the
    graph just has no links for them yet).
    """
    e = (
        edges.select(F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_nodes = seeds.select("node").distinct().localCheckpoint(eager=True)
    n_seeds = seed_nodes.count()
    if n_seeds == 0:
        raise ValueError("pagerank_personalized: empty seed set")
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .unionByName(seed_nodes)
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    is_seed = F.broadcast(seed_nodes.withColumn("_s", F.lit(1)))
    base = nodes.join(is_seed, "node", "left")
    if scale // n_seeds == 0:
        raise ValueError(
            f"pagerank_personalized: scale={scale} < n_seeds={n_seeds}; "
            "raise `scale`"
        )
    teleport = ((100 - damping_pct) * scale) // (100 * n_seeds)
    ranks = base.select(
        "node",
        F.when(F.col("_s").isNotNull(), F.lit(scale // n_seeds))
        .otherwise(F.lit(0)).cast("long").alias("rank_fixed"),
    )
    for _ in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fixed div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            base.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.when(F.col("_s").isNotNull(), F.lit(teleport))
                    .otherwise(F.lit(0))
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                    )
                ).cast("long").alias("rank_fixed"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("node").alias("node_id"), "rank_fixed")


def pagerank_weighted(
    edges: DataFrame,
    n_iters: int = 5,
    damping_pct: int = 85,
    scale: int = PAGERANK_SCALE,
    weight_col: str = "weight",
) -> DataFrame:
    """Edge-weighted PageRank: a node's rank splits over its
    out-edges PROPORTIONAL to edge weight instead of equally — the
    host-graph variant where ``n_links`` counts matter (a host that
    links a target 10,000 times endorses it more than a one-off
    footnote, and the unweighted splitter throws that signal away).

    Update (all BIGINT floor-divides; the two-step divide keeps every
    product under 2^63 — see bound below):

        share(u→v) = (r_k(u) div W(u)) · w(u,v)     W(u) = Σ_out w
        r_{k+1}(v) = ((100−d)·scale) div (100·N)
                     + (d · Σ share) div 100

    The per-unit-weight quotient ``r div W`` is computed FIRST, then
    multiplied by w — so the product is ≤ r ≤ scale = 10^12 times
    nothing (w/W ≤ 1 ⇒ share ≤ r), never an overflow; the price is
    the floor happening per-edge-weight-unit (documented: weights are
    link counts, the sub-1/W mass dropped per edge mirrors the
    unweighted variant's dangling-mass drop). Zero/negative weights
    raise — corrupt input, not a convention.

    Scale shape identical to :func:`pagerank`: one edge⋈rank join and
    one partial-agg groupBy per iteration, weight totals a node-sized
    dim, lineage truncated per round."""
    w = F.col(weight_col).cast("long")
    e = (
        edges.select(
            F.col("subj_id").alias("src"), F.col("obj_id").alias("dst"),
            w.alias("w"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    # isNull() must be explicit: NULL <= 0 is NULL, so a bare w <= 0
    # filter would let NULL-weight edges silently vanish from the sums
    if e.filter(F.col("w").isNull() | (F.col("w") <= 0)).limit(1).count():
        raise ValueError("pagerank_weighted: null/non-positive weights — corrupt input")
    e = (
        e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return edges.sparkSession.createDataFrame([], "node_id long, rank_fixed long")
    if scale // n == 0:
        raise ValueError(
            f"pagerank_weighted: scale={scale} < n_nodes={n}; raise `scale`"
        )
    wtot = e.groupBy("src").agg(F.sum("w").alias("wtot"))
    teleport = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.withColumn("rank_fixed", F.lit(scale // n).cast("long"))
    for _ in range(n_iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(wtot, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank_fixed div wtot) * w").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, 0L)) div 100"
                    )
                ).cast("long").alias("rank_fixed"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("node").alias("node_id"), "rank_fixed")


def salsa(
    edges: DataFrame,
    n_iters: int = 5,
    scale: int = HITS_SCALE,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """SALSA (Lempel & Moran 2000): hubs-and-authorities as TWO
    RANDOM WALKS on the bipartite hub/authority view instead of
    HITS's mutual-reinforcement sums — each contribution is divided
    by the contributor's degree, so a link farm of N pages pooling
    onto one target forwards one page's WORTH of mass, not N× (the
    TKC-effect resistance that made SALSA the standard web variant;
    Twitter's Who-To-Follow ran exactly this shape). Worth having
    NEXT TO :func:`hits`: on the same graph the pair separates
    "cited by many places" (SALSA ≈ in-degree-weighted visiting
    probability) from "cited by the strongest hubs" (HITS).

    Fixed-point BIGINT updates (floor-divides, per-contributor
    quotient FIRST — the pagerank_weighted overflow bound):

        a_{k+1}(v) = Σ_{u→v} (h_k(u)   div outdeg(u))
        h_{k+1}(u) = Σ_{u→v} (a_{k+1}(v) div indeg(v))

    Degree-stochastic propagation conserves mass up to the per-edge
    floor remainder, so NO normalization step exists — each
    iteration is exactly two edge⋈score joins + two partial-agg
    groupBys, one job fewer per half-step than HITS. Degree dims are
    node-sized; lineage checkpointed per iteration. Trajectory is a
    pure integer function of the edge set → chained-CTE DuckDB
    replay (q_salsa).
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return spark.createDataFrame(
            [], "node_id long, hub_fixed long, auth_fixed long"
        )
    if scale // n == 0:
        # more nodes than fixed-point units: every score would start
        # (and stay) 0 with no error signal (ADVICE r4 #4)
        raise ValueError(
            f"salsa: scale={scale} < n_nodes={n}; raise `scale` so "
            "scale // n >= 1 (each node needs >= 1 fixed-point unit)"
        )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    indeg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("indeg"))
    hubs = nodes.withColumn("h", F.lit(scale // n).cast("long"))
    auths = nodes.withColumn("a", F.lit(0).cast("long"))
    for _ in range(n_iters):
        a_new = (
            e.join(hubs.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("h div outdeg")).alias("raw"))
        )
        auths = (
            nodes.join(a_new, "node", "left")
            .select("node", F.coalesce("raw", F.lit(0)).cast("long").alias("a"))
            .localCheckpoint(eager=True)
        )
        h_new = (
            e.join(auths.withColumnRenamed("node", "dst"), "dst")
            .join(indeg, "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.expr("a div indeg")).alias("raw"))
        )
        hubs = (
            nodes.join(h_new, "node", "left")
            .select("node", F.coalesce("raw", F.lit(0)).cast("long").alias("h"))
            .localCheckpoint(eager=True)
        )
    return (
        hubs.join(auths, "node")
        .select(
            F.col("node").alias("node_id"),
            F.col("h").alias("hub_fixed"),
            F.col("a").alias("auth_fixed"),
        )
    )


def katz(
    edges: DataFrame,
    n_iters: int = 6,
    alpha_pct: int = 20,
    scale: int = HITS_SCALE,
    src_col: str = "subj_id",
    dst_col: str = "obj_id",
) -> DataFrame:
    """Katz centrality in fixed-point BIGINT: ``x_{k+1}(v) = β +
    α·Σ_{u→v} x_k(u)`` with β = ``scale`` and α = ``alpha_pct``/100 —
    the attenuated PATH-COUNT centrality that completes the spectral
    family (PageRank divides influence across out-links; Katz does
    not, so a hub endorsing 1,000 pages endorses each at full
    α-attenuated strength — the right semantics for "how reachable is
    this host through short link chains", e.g. seed-distance scoring
    for crawl frontiers).

    The update is one edge⋈score join + partial-agg sum + a constant
    add per iteration (no degree dims, no normalization — the
    cheapest member of the family); α is applied as a floor-divided
    percentage so the ``n_iters`` trajectory is a pure integer
    function of the edge set → chained-CTE replay (q_katz).
    Convergence needs α < 1/λ_max (≈ 1/max-indegree as the usual
    bound); with a fixed iteration count the trajectory is exact
    either way, and the caller picks α accordingly. Values are
    bounded by β·Σ(α·d_in)^k — raise ``scale`` only with a
    correspondingly small α·d_in (documented overflow envelope, the
    pagerank_weighted discipline)."""
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    x = nodes.withColumn("x", F.lit(int(scale)).cast("long"))
    for _ in range(n_iters):
        contrib = (
            e.join(x.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("x").alias("raw"))
        )
        x = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(int(scale))
                    + F.expr(
                        f"({alpha_pct} * coalesce(raw, 0L)) div 100"
                    )
                ).cast("long").alias("x"),
            )
            .localCheckpoint(eager=True)
        )
    return x.select(F.col("node").alias("node_id"), F.col("x").alias("katz_fixed"))


def label_propagation(edges: DataFrame, n_rounds: int = 8) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan/
    Albert/Kumara 2007, the GraphFrames formulation): every node
    starts with its own id as label; each round every node adopts the
    most frequent label among its neighbours, ties broken by the
    SMALLEST label. Returns (node_id, community) after ``n_rounds``.

    Synchronous updates + a total tie-break order make the trajectory
    a pure function of the edge set, so a fixed ``n_rounds`` replays
    bit-exactly as chained SQL CTEs on any engine — the classic
    asynchronous sweep (and random tie-breaking) has a visit order no
    two engines would agree on. The price, documented since the
    original paper and in the GraphFrames API: synchronous LPA can
    OSCILLATE on near-bipartite structure instead of converging, so
    the round count is part of the operator's contract (callers read
    the community assignment AT round ``n_rounds``; there is no
    convergence guarantee to check).

    Scale shape (100 TB edge tables): per round one node-keyed hash
    join of the symmetrized edge table against the node-sized label
    table, one partial-agg groupBy on (node, label), and one window
    rank partitioned by node — never a per-node collect_list of
    neighbour labels (hubs with 10^7 neighbours would OOM an array;
    the groupBy pre-shrinks to distinct labels and the window spills).
    localCheckpoint per round truncates the iterative lineage.

    Reference analogue: the community/centrality analysis family
    (scripts/analysis/graph_metrics.py) — detection as an iterative
    relational plan instead of a NetworkX call.
    """
    from pyspark.sql import Window

    und = (
        _undirected_pairs(edges)
        .select("a", "b")
        .unionByName(
            _undirected_pairs(edges).select(
                F.col("b").alias("a"), F.col("a").alias("b")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    lab = und.select("a").distinct().select("a", F.col("a").alias("lab"))
    w = Window.partitionBy("a").orderBy(F.desc("c"), "lab")
    for _ in range(n_rounds):
        votes = (
            und.join(lab.select(F.col("a").alias("b"), "lab"), "b")
            .groupBy("a", "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        lab = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("a", "lab")
            .localCheckpoint(eager=True)
        )
    return lab.select(
        F.col("a").alias("node_id"), F.col("lab").alias("community")
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of the degrees at the two ends of an edge — positive
    for social-style hub-to-hub graphs, negative for web/biology-style
    hub-to-leaf graphs; the one-number summary of whether a crawl
    frontier's host graph is core-periphery or clustered.

    Computed over the DIRECTED STUB list (each undirected edge counted
    in both orientations — the standard convention, which makes the
    two marginals identical and the formula integer-exact with no
    square root):

        r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)

    All sufficient statistics are exact BIGINTs; ``r_ppm`` is emitted
    in parts-per-million fixed point with truncation toward zero on
    BOTH engines (sign split out explicitly — floor-vs-truncate
    integer-division semantics differ between engines on negatives,
    a real cross-engine trap). |r| ≤ 1 guarantees |num| ≤ den, so the
    1e6 scale-up is safe while den < 9.2·10¹² — beyond that (≈ 10⁶
    stubs of average degree 10³) swap the ppm projection for
    decimal(38) arithmetic; the BIGINT sufficient statistics
    themselves hold to Σx² < 2^63.

    Scale shape: one symmetrize + distinct, one node-sized degree
    aggregation, two node-keyed joins to attach endpoint degrees, one
    partial-agg global fold to 1 row. No window, no sort, no driver
    loop.
    """
    und = (
        _undirected_pairs(edges)
        .select("a", "b")
        .unionByName(
            _undirected_pairs(edges).select(
                F.col("b").alias("a"), F.col("a").alias("b")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = und.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("d"))
    stubs = (
        und.join(deg.select(F.col("a"), F.col("d").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("dy")), "b"
        )
    )
    stats = stubs.agg(
        F.count(F.lit(1)).cast("long").alias("m_stubs"),
        F.sum("dx").cast("long").alias("s_x"),
        F.sum(F.expr("dx * dy")).cast("long").alias("s_xy"),
        F.sum(F.expr("dx * dx")).cast("long").alias("s_x2"),
    )
    num = F.expr("m_stubs * s_xy - s_x * s_x")
    den = F.expr("m_stubs * s_x2 - s_x * s_x")
    sign = (
        F.when(num < 0, F.lit(-1)).when(num > 0, F.lit(1)).otherwise(F.lit(0))
    ).cast("long")
    return stats.select(
        "m_stubs",
        "s_x",
        "s_xy",
        "s_x2",
        num.cast("long").alias("num"),
        den.cast("long").alias("den"),
        F.when(den == 0, F.lit(None).cast("long"))
        .otherwise(
            sign * F.expr(
                "(1000000 * abs(m_stubs * s_xy - s_x * s_x))"
                " div (m_stubs * s_x2 - s_x * s_x)"
            )
        )
        .alias("r_ppm"),
    )


def densest_subgraph(
    edges: DataFrame,
    eps_permille: int = 500,
    max_rounds: int = 24,
) -> DataFrame:
    """Densest-subgraph extraction by synchronous (1+ε) peeling —
    Bahmani–Kumar–Vassilvitskii (VLDB 2012), THE MapReduce-era
    formulation: per round, compute the average degree 2m/n of the
    active undirected subgraph and remove EVERY node whose degree is ≤
    ``thr = (2·m·(1000+ε)) div (1000·n)`` (the integer-floor form of
    deg < 2(1+ε)·m/n — our rule removes the boundary-degree nodes too,
    a superset of Bahmani's set, so the ≤ log_{1+ε}(n) round bound and
    the 2(1+ε)-approximation survive while every compare stays a
    BIGINT compare both engines replay exactly). The answer is the
    round snapshot with the maximum density m/n (integer milli, ties →
    earliest round). Dense cores are link farms / template clusters in
    a host graph — the crawl-quality signal this family feeds.

    Output: one row per node of the best snapshot ``(node_id,
    best_round, density_milli, n_nodes, m_edges)`` (the last four
    constant).

    Scale shape: each round is one degree aggregation (count partial
    agg) + two semi-joins to restrict the edge set — no windows, no
    driver-side node sets; the only driver state is the per-round
    (n, m) scalar pair (two 1-row aggregates, the SCC-peel pattern).
    Rounds are ≤ log_{1+ε} n ≈ 52 for 10⁹ nodes at ε = 0.5. Raises if
    ``max_rounds`` doesn't drain — a partial peel is not an answer.
    """
    if not 0 < eps_permille:
        raise ValueError(f"eps_permille must be > 0, got {eps_permille}")
    und = (
        edges.select(
            F.least(F.col("subj_id"), F.col("obj_id")).alias("a"),
            F.greatest(F.col("subj_id"), F.col("obj_id")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    best = None  # (density_milli, round, n, m, nodes_df)
    e = und
    for r in range(max_rounds):
        m = e.count()
        if m == 0:
            break
        deg = (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("deg"))
            .localCheckpoint(eager=True)
        )
        n = deg.count()
        density_milli = (1000 * m) // n
        if best is None or density_milli > best[0]:
            best = (density_milli, r, n, m, deg.select("v"))
        thr = (2 * m * (1000 + eps_permille)) // (1000 * n)
        keep = deg.filter(F.col("deg") > thr).select("v")
        e = (
            e.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .localCheckpoint(eager=True)
        )
    else:
        if e.count() > 0:
            raise ValueError(
                f"densest_subgraph peel did not drain in {max_rounds} "
                "rounds — raise max_rounds (bound: log_(1+eps) n)"
            )
    if best is None:
        return spark.createDataFrame(
            [],
            "node_id long, best_round int, density_milli long, "
            "n_nodes long, m_edges long",
        )
    density_milli, r, n, m, nodes = best
    return nodes.select(
        F.col("v").cast("long").alias("node_id"),
        F.lit(r).cast("int").alias("best_round"),
        F.lit(density_milli).cast("long").alias("density_milli"),
        F.lit(n).cast("long").alias("n_nodes"),
        F.lit(m).cast("long").alias("m_edges"),
    )


def modularity_4m2(edges: DataFrame, assign: DataFrame) -> DataFrame:
    """Exact integer Newman modularity of a community assignment:
    returns one row ``(q_4m2, m_edges, n_communities)`` where
    ``q_4m2 = Q · 4m²`` — the standard Q = Σ_c [m_c/m − (D_c/2m)²]
    cleared of its denominators (``Σ_c [4·m·m_c − D_c²]``), so the
    quality of an LPA/SCC/k-core community split is a pure BIGINT both
    engines agree on (floats would make Q a summation-order lottery).
    m = undirected edge count, m_c = intra-community edges, D_c = sum
    of member degrees. Overflow bound: D_c ≤ 2m, so each term ≤ 4m² —
    BIGINT-safe to m ≈ 10⁹ edges per community; shard the sum into
    DECIMAL(38) beyond that (documented, not silently floated).

    Scale shape: one degree partial agg, one two-sided community tag
    join of the edge table, two vocabulary-sized rollups. ``assign``
    must cover every edge endpoint (inner joins drop strays — feed the
    full label table, not a filtered one)."""
    # canonical undirected pairs: least/greatest + distinct, so an
    # input carrying both (u,v) and (v,u) counts ONE undirected edge
    # (_undirected_pairs keeps direction and would double-count m)
    und = (
        edges.select(
            F.least(F.col("subj_id"), F.col("obj_id")).alias("a"),
            F.greatest(F.col("subj_id"), F.col("obj_id")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = assign.select(F.col("node_id").alias("a"), F.col("community").alias("ca"))
    b = assign.select(F.col("node_id").alias("b"), F.col("community").alias("cb"))
    tagged = und.join(a, "a").join(b, "b").localCheckpoint(eager=True)
    m = tagged.count()
    if m == 0:
        return edges.sparkSession.createDataFrame(
            [(0, 0, 0)], "q_4m2 long, m_edges long, n_communities long"
        )
    intra = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count(F.lit(1)).alias("mc"))
    )
    deg = (
        tagged.select(F.col("a").alias("v"), F.col("ca").alias("c"))
        .unionByName(tagged.select(F.col("b").alias("v"), F.col("cb").alias("c")))
        .groupBy("v", "c")
        .agg(F.count(F.lit(1)).alias("d"))
        .groupBy("c")
        .agg(F.sum("d").alias("dc"))
    )
    per_c = deg.join(intra, "c", "left").select(
        "c",
        (
            F.lit(4 * m) * F.coalesce(F.col("mc"), F.lit(0))
            - F.col("dc") * F.col("dc")
        ).alias("term"),
    )
    return per_c.agg(
        F.sum("term").cast("long").alias("q_4m2"),
        F.lit(m).cast("long").alias("m_edges"),
        F.count(F.lit(1)).cast("long").alias("n_communities"),
    )
