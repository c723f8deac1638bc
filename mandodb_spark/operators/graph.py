"""Graph operators over edge DataFrames: PageRank-style centrality.

Beyond-reference surface (the reference has no graph ops): the near-dup
pipeline already builds a similarity GRAPH (minhash/simhash pairs) and
collapses it with connected components (``dedup.neardup_clusters``).
Centrality is the natural next question — *which* member of a dup
cluster is the canonical copy, which domains dominate a link graph —
and PageRank is the standard answer.

Execution model mirrors the CC lesson from round 5: every iteration is a
bounded plan (one join + one aggregate), and the rank relation is
``localCheckpoint``-ed each round so lineage stays CONSTANT-depth — the
naive loop replays all prior iterations' shuffles at every action and
dies by iteration ~20.  Each released checkpoint frees its blocks; at
1000 executors the per-iteration cost is exactly one shuffle on the dst
key plus one broadcast-sized count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import note_iteration
from ..session import checkpoint, release


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iter: int = 10, damping: float = 0.85,
             undirected: bool = False) -> DataFrame:
    """PageRank over an edge list: ``rank = (1-d)/N + d * (inbound
    contributions + dangling mass / N)``, ``n_iter`` synchronous power
    iterations from the uniform vector — the textbook formulation, with
    dangling-node mass redistributed uniformly so the ranks keep summing
    to 1 (drop that term and directed graphs leak mass every round).

    ``undirected=True`` symmetrizes the edge list first (the similarity-
    graph case — no dangling nodes by construction).  Self-loops and
    duplicate edges are removed; isolated nodes never enter (an edge
    list cannot name them).

    Scale shape per iteration: ranks ⋈ out-degrees (broadcast-sized
    right side: O(nodes) rows, but planned as a plain equi-join so it
    scales past broadcast when nodes are huge) → contribution fan-out
    along edges (shuffle on ``dst``) → one map-side-combining sum.  The
    dangling mass is a 1-row aggregate crossJoin-broadcast, not a
    driver round-trip.  N is computed once.  Output: ``(node, rank)``
    with rank rounded to 8dp for cross-run stability.
    """
    if n_iter < 1:
        raise ValueError("n_iter must be >= 1")
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if undirected:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    e = e.filter(F.col("s") != F.col("d")).distinct()
    spark = e.sparkSession
    e, edge_ids = checkpoint(note_iteration(e, "pagerank:edges"))

    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .distinct()
    )
    nodes, node_ids = checkpoint(note_iteration(nodes, "pagerank:nodes"))
    n = nodes.count()
    if n == 0:
        release(spark, edge_ids)
        return nodes.withColumn("rank", F.lit(0.0))
    outdeg = e.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    held: list[int] = []
    for _ in range(n_iter):
        with_deg = ranks.join(outdeg, "node", "left")
        contrib = (
            with_deg.filter(F.col("deg").isNotNull())
            .join(e, F.col("node") == F.col("s"))
            .select(F.col("d").alias("node"),
                    (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inbound"))
        )
        # dangling mass: rank parked on nodes with no outgoing edges,
        # redistributed uniformly (1-row aggregate, broadcast join)
        dangling = (
            with_deg.filter(F.col("deg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        nxt = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + damping
                    * (F.coalesce(F.col("inbound"), F.lit(0.0))
                       + F.col("dm") / n)
                ).alias("rank"),
            )
        )
        ranks, nxt_ids = checkpoint(note_iteration(nxt, "pagerank:iter"))
        release(spark, held)
        held = nxt_ids
    # only the last round's ranks back the result
    release(spark, edge_ids + node_ids)
    return ranks.select("node", F.round("rank", 8).alias("rank"))


def pagerank_unrolled_sql(edges_sql: str, n_iter: int,
                          damping: float = 0.85) -> str:
    """DuckDB mirror of :func:`pagerank` for UNDIRECTED edge sets (oracle
    generator): ``edges_sql`` must yield columns ``(src, dst)``; the
    mirror symmetrizes, drops self-loops, and unrolls the fixed
    ``n_iter`` power iterations as chained CTEs — standard SQL forbids
    aggregation inside a recursive term, so unrolling is the portable
    form.  After symmetrization every node has out-degree ≥ 1, so the
    dangling term is identically zero and the per-layer update is exactly
    the operator's: ``(1-d)/N + d · Σ rank/deg``.  All constants are
    ``repr``-ed Python doubles — the very literals the Spark side folds
    in — so both engines run identical IEEE arithmetic.
    """
    omd, dmp = repr(1.0 - damping), repr(float(damping))
    layers = []
    for i in range(1, n_iter + 1):
        layers.append(
            f"r{i} AS (SELECT e.d AS node, "
            f"({omd} / (SELECT nn FROM meta)) + {dmp} * sum(r.rank / dg.deg) AS rank "
            f"FROM r{i-1} r JOIN ed e ON r.node = e.s "
            f"JOIN deg dg ON dg.s = e.s GROUP BY e.d)"
        )
    joined = ",\n".join(layers)
    return f"""
WITH e0 AS ({edges_sql}),
ed AS (SELECT src AS s, dst AS d FROM e0 WHERE src <> dst
       UNION SELECT dst, src FROM e0 WHERE src <> dst),
nodes AS (SELECT DISTINCT s AS node FROM ed),
meta AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM nodes),
deg AS (SELECT s, CAST(count(*) AS BIGINT) AS deg FROM ed GROUP BY 1),
r0 AS (SELECT node, 1.0 / (SELECT nn FROM meta) AS rank FROM nodes),
{joined}
SELECT node, round(rank, 8) AS rank FROM r{n_iter}
"""


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected graph — the dup-graph
    density diagnostic (a near-dup cluster of k mutual copies contributes
    C(k,3) triangles; triangles/edges is the standard "is this graph
    clique-like or chain-like" signal that picks between span-dedup and
    cluster-collapse strategies).

    Degree-ordered orientation (the MapReduce-classic Suri–Vassilvitskii
    form): orient every canonical edge from its (degree, id)-smaller
    endpoint to the larger, generate wedges only at each edge's SMALLER
    endpoint, and close them with an equi-join back against the oriented
    edge set.  Every triangle is counted exactly once, and — the scale
    point — a degree-d hub generates wedges only for the ≤√m out-edges
    that orientation leaves it, so the wedge fan-out is O(m^{3/2}) worst
    case instead of Σd² under a skewed degree distribution.  All joins
    are equi-joins; self-loops and duplicate/reverse edges are dropped in
    the canonicalization.

    Output: one row ``(n_nodes, n_edges, n_triangles)``.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        # und feeds two consumers (deg, withdeg) and oriented five —
        # checkpoint so the upstream edge pipeline (often a full LSH
        # candidate generation) runs ONCE, same constant-depth rule as
        # pagerank/connected_components
    )
    spark = edges.sparkSession
    und, und_ids = checkpoint(note_iteration(und, "triangle:und"))
    deg = (
        und.select(F.col("a").alias("n")).unionAll(und.select(F.col("b").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # (u, dv, v): tail u is the (deg,id)-smaller endpoint; the head's
    # degree rides along so wedge ordering needs no extra join
    oriented = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # oriented holds every canonical edge once, so it also gives the node
    # and edge counts, and its checkpoint alone backs the result
    oriented, _ = checkpoint(note_iteration(oriented, "triangle:oriented"))
    release(spark, und_ids)
    o1 = oriented.select("u", F.col("dv").alias("d1"), F.col("v").alias("v1"))
    o2 = oriented.select("u", F.col("dv").alias("d2"), F.col("v").alias("v2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    )
    tri = closed.agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    nn = (oriented.select(F.col("u").alias("n"))
          .unionByName(oriented.select(F.col("v").alias("n"))).distinct()
          .agg(F.count(F.lit(1)).cast("long").alias("n_nodes")))
    ne = oriented.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return nn.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(tri))


def triangle_count_sql(edges_sql: str, src: str = "src", dst: str = "dst") -> str:
    """DuckDB mirror of :func:`triangle_count` (oracle generator): the
    a<b<c three-way self-join — same count, no orientation needed at
    oracle scale."""
    return f"""
WITH raw AS ({edges_sql}),
und AS (
    SELECT DISTINCT least({src}, {dst}) AS a, greatest({src}, {dst}) AS b
    FROM raw WHERE {src} <> {dst}
),
nodes AS (SELECT a AS n FROM und UNION SELECT b FROM und),
tri AS (
    SELECT count(*) AS n_triangles
    FROM und e1 JOIN und e2 ON e1.b = e2.a JOIN und e3
         ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM tri
"""


def k_core(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
           max_rounds: int = 100) -> DataFrame:
    """Extract the k-core of an undirected graph: the maximal subgraph
    where every node keeps degree >= k — the dup-graph densest-region
    extractor (a k-core of the near-dup graph is a set of documents that
    are each near-duplicates of >= k others: template farms, mirror
    rings), complementing PageRank (who is canonical), CC (which docs
    relate at all) and triangle_count (how clique-like overall).

    Synchronous peel: drop all nodes with degree < k, recompute, repeat
    to fixpoint.  Each round is one aggregate + two anti-joins with the
    sub-k node set BROADCAST (it is the frontier, not the graph), and the
    surviving edge list is localCheckpoint-ed so lineage stays constant
    depth — the same loop discipline as pagerank/connected_components.
    Termination: each round strictly shrinks the node set or stops, so
    rounds <= peel depth (<= max degree, usually tiny); ``max_rounds``
    is a backstop that raises rather than silently returning a
    non-fixpoint.

    Output: ``(node, degree)`` for k-core members (degree within the
    core).  Empty when no k-core exists.
    """
    return _k_core(edges, k, src, dst, max_rounds)[0]


def _k_core(edges: DataFrame, k: int, src: str, dst: str,
            max_rounds: int) -> tuple[DataFrame, list[int]]:
    """:func:`k_core` plus the ids of the one checkpoint its result reads,
    for a caller that releases them once done with the core."""
    if k < 1:
        raise ValueError("k must be >= 1")
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    e = (
        und.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionByName(und.select(F.col("b").alias("s"), F.col("a").alias("d")))
    )
    spark = e.sparkSession
    e, held = checkpoint(note_iteration(e, "k_core:edges"))
    for _ in range(max_rounds):
        deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
        weak = deg.filter(F.col("deg") < k).select("s")
        if weak.isEmpty():
            return deg.select(F.col("s").alias("node"),
                              F.col("deg").cast("long").alias("degree")), held
        nxt = (
            e.join(F.broadcast(weak), "s", "left_anti")
            .join(F.broadcast(weak.withColumnRenamed("s", "d")), "d", "left_anti")
        )
        e, nxt_ids = checkpoint(note_iteration(nxt, "k_core:iter"))
        release(spark, held)
        held = nxt_ids
        if e.isEmpty():
            return e.select(F.col("s").alias("node"),
                            F.lit(0).cast("long").alias("degree")).limit(0), held
    release(spark, held)
    raise RuntimeError(f"k_core: no fixpoint within {max_rounds} rounds")


def co_occurrence(events: DataFrame, entity_col: str, context_col: str,
                  min_count: int = 1, max_context_size: int = 1000) -> DataFrame:
    """Bipartite projection: the weighted entity-entity co-occurrence
    graph from (entity, context) facts — users co-touching an item,
    documents sharing a rare token, papers sharing an author.  The edge
    builder that feeds every other operator in this module (pagerank /
    triangle_count / k_core run on its output).

    Scale shape: one shuffle groups each context's distinct entities
    into a sorted member array; pairs expand through the same chained-
    generator form as the LSH bucket pairs (dedup._bucket_pairs — stays
    in whole-stage codegen); one final count aggregate weights the
    edges.  The skew control IS the point: a context with a million
    entities contributes O(10¹²) pairs — ``max_context_size`` drops
    such hub contexts entirely (a context shared by everyone carries no
    co-occurrence signal, the stop-word argument), and the drop is
    LOGGED in the plan as an explicit filter, not a silent truncation.

    Output: ``(src, dst, weight)`` with src < dst, weight = number of
    shared contexts, edges with weight < ``min_count`` dropped.
    """
    groups = (
        events.select(F.col(context_col).alias("__c"),
                      F.col(entity_col).alias("__e"))
        .distinct()
        .groupBy("__c")
        .agg(F.sort_array(F.collect_list("__e")).alias("ids"))
        .filter(F.size("ids").between(2, max_context_size))
    )
    pairs = (
        groups.select(F.posexplode("ids").alias("__i", "src"), F.col("ids"))
        .select("src",
                F.expr("explode(slice(ids, __i + 2, size(ids)))").alias("dst"))
    )
    return (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("weight"))
        .filter(F.col("weight") >= min_count)
    )


def coreness(edges: DataFrame, src: str = "src", dst: str = "dst",
             max_k: int = 64) -> DataFrame:
    """Full core decomposition: every node's coreness (the largest k for
    which it survives the k-core peel) — the graded version of
    :func:`k_core`, ranking dup-graph members by how deeply embedded in
    a mirror-ring they are.

    Ladder form: run the k-core peel for k = 2, 3, ... until the core
    empties; a node's coreness is the last k whose core contained it
    (degree-1 leaves of the canonical graph get coreness 1).  Total cost
    is Σ_k peel(k) — each peel is the checkpointed broadcast-frontier
    loop, and the ladder shortens geometrically as cores shrink; dup
    graphs empty within a handful of rungs.  ``max_k`` bounds a
    clique-of-everything pathology and raises rather than mislabeling.

    Output: ``(node, coreness)`` for every non-isolated node.
    """
    a, b = F.col(src), F.col(dst)
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )
    spark = edges.sparkSession
    und, und_ids = checkpoint(note_iteration(und, "coreness:und"))
    nodes = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .distinct()
    )
    # `held` backs `out` once a rung has checkpointed it; until then `out`
    # reads und's checkpoint, which is then the one that outlives the call
    out, held = nodes.withColumn("coreness", F.lit(1).cast("long")), []
    pair_edges = und.select(F.col("a").alias(src), F.col("b").alias(dst))
    for k in range(2, max_k + 1):
        core, core_ids = _k_core(pair_edges, k, src, dst, max_rounds=100)
        if core.isEmpty():
            release(spark, core_ids + (und_ids if held else []))
            return out
        out, out_ids = checkpoint(note_iteration(
            out.join(core.select(F.col("node"), F.lit(k).alias("__k")),
                     "node", "left")
            .select("node",
                    F.coalesce(F.col("__k"), F.col("coreness"))
                    .cast("long").alias("coreness")),
            "coreness:rung"))
        release(spark, core_ids + held)
        held = out_ids
    release(spark, und_ids + held)
    raise RuntimeError(f"coreness: graph has a core beyond max_k={max_k}")
