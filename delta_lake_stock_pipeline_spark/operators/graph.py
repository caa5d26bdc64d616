"""Graph analytics: exact-integer PageRank, bounded k-core peeling,
multi-source BFS hop distance, degree-oriented triangle counting, and
common-neighbor link prediction.

Beside ``dedup.min_label_components`` (connected components) these are
the registry's graph-algorithm classes, every output an exact integer so
a DuckDB oracle checks it bit-for-bit. The reference's single-table
pipeline has no graph step; this is part of the mandated LLM-pipeline
extension surface (link-graph quality signals -- PageRank over a
hyperlink/citation graph is a standard document-quality prior, e.g. the
Common Crawl harmonic/PageRank centrality lists used by CCNet
descendants; k-core, triangle/clustering structure, and common-neighbor
scores are the standard spam-farm and community signals over the same
graphs).

Why fixed-iteration + integers (PageRank and k-core alike): float
PageRank accumulates in engine-specific reduction orders, and "iterate
to convergence" has no cross-engine-checkable stopping row, so
equality-checking either is hopeless. Here every rank is a BIGINT in
1e-12 units, each per-edge share is one integer division
``rank DIV out_degree``, the damping step is
``(15 * base) DIV 100 + (85 * inflow) DIV 100``, the peel is a fixed
``KCORE_ITERS`` rounds -- all order-insensitive integer operations
written textually identically on both engines from shared constants, so
Spark and the mechanically-unrolled SQL oracles agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact
from ..sources.fixtures import load_table

# Shared constants: the Spark loop and the unrolled oracle are generated
# from the SAME values (the _macd_oracle stance), so damping or scale
# cannot drift between engines.
PR_SCALE = 10**12  # rank unit = 1e-12 of total probability mass
PR_ITERS = 5
_D_NUM, _T_NUM, _DEN = 85, 15, 100  # damping 0.85 as exact integers
_TOP_K = 20


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bipartite customer-supplier trade graph shared by the
    PageRank / k-core / BFS queries: a symmetric directed edge for every
    distinct (customer, supplier) trading pair in orders JOIN lineitem,
    nodes labeled ``C<custkey>`` / ``S<suppkey>``. One definition so the
    graph cannot drift between the loop operators (their oracles all
    inline the same two CTEs)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .distinct()
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


# The shared fact-scan artifacts. PageRank, k-core, BFS and
# common-neighbors all start from the SAME orders-JOIN-lineitem distinct
# trading-pair relation (~590k rows at sf0.1, 2-4 s to build); before
# round 10's optimization pass each of the four keys re-ran it (guide
# §1.2: remove redundant passes first). Priced as bench setup lines.
@artifact(
    setup="trade_adjacency",
    used_by=("g_pagerank", "g_kcore", "g_bfs_hops", "g_common_neighbors"),
)
def _cs_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct numeric (c, s) trading pairs -- the one fact-table pass
    behind the whole graph family. ``_trade_edges_cached`` labels and
    symmetrizes it; ``common_neighbors_suppliers`` consumes it raw."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_suppkey").cast("long").alias("s")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("long").alias("c")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("c", "s")
        .distinct()
        .localCheckpoint()
    )


@artifact(setup="trade_edges", used_by=("g_pagerank", "g_kcore", "g_bfs_hops"))
def _trade_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_trade_edges`` built from the cached (c, s) pair relation: the
    labeling projection + symmetric union is cheap; the fact-table join
    + distinct it used to re-run is shared via ``_cs_pairs_cached``.
    (The TPC-H keys are integers, so ``CAST(long AS STRING)`` equals the
    original column-to-string cast -- same node labels.)"""
    pairs = _cs_pairs_cached(spark, sf_dir).select(
        F.concat(F.lit("C"), F.col("c").cast("string")).alias("src"),
        F.concat(F.lit("S"), F.col("s").cast("string")).alias("dst"),
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()


def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer-supplier trade graph: nodes
    are ``C<custkey>`` / ``S<suppkey>``, with a symmetric edge for every
    distinct (customer, supplier) trading pair in
    orders JOIN lineitem. Emits the top-20 nodes by rank -- "which
    counterparties are most central to the trade network", the
    graph-centrality question a curation pipeline asks of a link graph.

    Exactness: see the module docstring -- every emitted value is an
    exact BIGINT; the (rank DESC, node ASC) order is total, so the
    top-20 subset is deterministic.

    Scale shape: the fact tables are touched ONCE (the distinct-pair
    edge build); each of the 5 iterations joins the |V|-row rank table
    to the edge list and aggregates inflow per destination. No join
    strategy is forced on any |V|-bounded table (family policy, commit
    fff5214 + VERDICT r7 task 2): AQE picks broadcast while ranks fit
    (measured fine through ~1M nodes, SCALING.md iterative-loop probe)
    and falls back to co-hash-partitioned shuffle joins when |V|
    outgrows it -- the hardwired hint this replaced would instead have
    forced a multi-GB broadcast at tens of millions of nodes. Only the
    1-row ``n_df`` scalar keeps an explicit broadcast.
    ``localCheckpoint`` truncates lineage so iteration N's plan
    does not re-derive iterations 1..N-1."""
    edges = _trade_edges_cached(spark, sf_dir)
    return pagerank_core(edges).limit(_TOP_K)


def pagerank_core(edges: DataFrame) -> DataFrame:
    """Fixed-iteration exact-integer PageRank over a directed edge list
    ``(src, dst)`` (distinct rows). Returns every node with its final
    scaled rank, ordered (rank DESC, node ASC). Separated from the query
    so the hypothesis brute force can drive it on arbitrary graphs --
    including dangling nodes (dst-only: they receive inflow but emit
    none; their mass is dropped, the standard simplification, identical
    on both sides)."""
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Degree table checkpointed ONCE: it is loop-invariant, but as a lazy
    # plan each iteration's materialization re-ran the |E|-row groupBy
    # (5x over ~1.2M rows at sf0.1 -- round-10 optimization, guide §1.2).
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("outd"))
        .localCheckpoint()
    )
    n_df = nodes.agg(F.count("*").cast("long").alias("n"))
    # Per-node constants precomputed once outside the loop: the initial
    # rank r0 = SCALE DIV n and the teleport term t0 = (15*(SCALE DIV n))
    # DIV 100 are loop-invariant; inlining them per iteration re-ran the
    # n_df aggregate + crossJoin 5x. The per-iteration expression
    # t0 + (85*s) DIV 100 is the SAME integer arithmetic term-for-term,
    # so every emitted rank is bit-identical (probe-verified).
    # Per-node constants AND the loop-invariant out-degree ride ONE
    # checkpointed table: the previous loop re-joined ranks to the
    # static ``deg`` every iteration to compute shares -- one whole
    # join (build + probe + exchange reuse) per iteration for a column
    # that never changes (round-11, guide §2.4). ``outd`` is left-joined
    # (NULL for inflow-only dangling nodes) and carried through each
    # iteration's rank projection; the share set -- inner-join rows,
    # i.e. nodes WITH an out-degree -- becomes a filter, and
    # ``r DIV outd`` / the rank update are the SAME integer expressions
    # term-for-term, so every emitted rank is bit-identical (the
    # hypothesis property test drives exact equality vs the serial
    # implementation).
    base = (
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "node",
            F.expr(f"CAST({PR_SCALE} DIV n AS BIGINT)").alias("r0"),
            F.expr(
                f"CAST(({_T_NUM} * ({PR_SCALE} DIV n)) DIV {_DEN} AS BIGINT)"
            ).alias("t0"),
        )
        .join(deg, "node", "left")
        .localCheckpoint()
    )
    ranks = base.select("node", F.col("r0").alias("r"), "outd")
    for _ in range(PR_ITERS):
        shares = ranks.where(F.col("outd").isNotNull()).select(
            F.col("node").alias("src"),
            F.expr("CAST(r DIV outd AS BIGINT)").alias("share"),
        )
        inflow = (
            edges.join(shares, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").cast("long").alias("s"))
        )
        ranks = (
            base.join(inflow, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST(t0 + ({_D_NUM} * COALESCE(s, CAST(0 AS BIGINT)))"
                    f" DIV {_DEN} AS BIGINT)"
                ).alias("r"),
                "outd",
            )
            .localCheckpoint()
        )
    return ranks.select(
        "node", F.col("r").alias("rank_scaled")
    ).orderBy(F.col("rank_scaled").desc(), "node")


# BFS from the highest-degree supplier hubs: fixed rounds (the unrolled-
# oracle stance), seed count and round count shared engine/oracle.
BFS_ITERS = 4
BFS_SEEDS = 3


def bfs_hops_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the trade graph: hop distance from the
    ``BFS_SEEDS`` highest-degree supplier hubs (ties broken by node --
    a total order), capped at ``BFS_ITERS`` rounds, emitted as a
    per-distance node histogram. This is the TrustRank-style
    "distance from trusted seeds" signal link-graph curation uses to
    grade pages by proximity to a vetted core; nodes unreached within
    the cap are absent (their distance is not a checkable constant).

    Scale shape: per round, ONE join of the current frontier (nodes
    first reached last round -- only they can relax anything) against
    the edge list plus a min-aggregation keyed on the node; frontier
    and distance tables are |V|-bounded and AQE picks their join
    strategy, the edge list stays hash-partitioned on src. The
    min-label connected-components loop is the same shape with an
    unbounded round count."""
    # The session-cached edge list is already materialized, so the seed
    # computation and the BFS rounds both hang off one checkpoint --
    # deriving seeds from the raw plan would replay the fact-table join a
    # second time (review catch).
    edges = _trade_edges_cached(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count("*").alias("d"))
    seeds = (
        deg.where(F.col("src").startswith("S"))
        .orderBy(F.desc("d"), "src")
        .limit(BFS_SEEDS)
        .select(F.col("src").alias("node"))
    )
    return bfs_core(edges, seeds)


def bfs_core(edges: DataFrame, seeds: DataFrame) -> DataFrame:
    """``BFS_ITERS``-round multi-source BFS over a directed edge list
    ``(src, dst)`` from a ``(node)`` seed set. Returns the histogram
    (dist, n_nodes) ordered by dist. Separated from the query so the
    hypothesis brute force can drive it on arbitrary graphs and seed
    sets. (``localCheckpoint`` on an already-checkpointed edge list, as
    the query passes in, is a cheap re-materialization of the local
    blocks, not a plan replay.)"""
    edges = edges.localCheckpoint()
    dist = seeds.select(
        "node", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint()
    for i in range(1, BFS_ITERS + 1):
        frontier = dist.where(F.col("dist") == i - 1).withColumnRenamed(
            "node", "src"
        )
        reached = edges.join(frontier, "src").select(
            F.col("dst").alias("node"),
            F.lit(i).cast("long").alias("dist"),
        )
        dist = (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint()
        )
    return (
        dist.groupBy("dist")
        .agg(F.count("*").cast("long").alias("n_nodes"))
        .orderBy("dist")
    )


def _bfs_oracle() -> str:
    """Mirror of bfs_hops_trade_graph: seed count and round count
    generate the unrolled chain. Every d<i> CTE is MATERIALIZED -- each
    is referenced twice (union + frontier), so default inlining would
    re-expand the chain exponentially in BFS_ITERS (the v_mmr_select
    lesson)."""
    cte = [
        """pairs AS MATERIALIZED (
            SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                   'S' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )""",
        """e0 AS MATERIALIZED (
            SELECT src, dst FROM pairs
            UNION ALL SELECT dst, src FROM pairs
        )""",
        f"""seeds AS MATERIALIZED (
            SELECT src AS node FROM e0 WHERE src LIKE 'S%'
            GROUP BY src ORDER BY COUNT(*) DESC, src LIMIT {BFS_SEEDS}
        )""",
        """d0 AS MATERIALIZED (
            SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
        )""",
    ]
    for i in range(1, BFS_ITERS + 1):
        cte.append(f"""d{i} AS MATERIALIZED (
            SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
                SELECT node, dist FROM d{i - 1}
                UNION ALL
                SELECT e.dst AS node, CAST({i} AS BIGINT) AS dist
                FROM e0 e
                JOIN (SELECT node FROM d{i - 1} WHERE dist = {i - 1}) f
                  ON e.src = f.node
            ) GROUP BY node
        )""")
    body = ",\n        ".join(cte)
    return f"""
        WITH {body}
        SELECT dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM d{BFS_ITERS} GROUP BY dist ORDER BY dist
    """


# Backbone threshold: a co-supply edge requires >= this many shared
# orders. The fixture's co-occurrence is near-uniform (at sf<=0.01 every
# supplier pair co-occurs often enough that the backbone is the complete
# graph -- still exact, just dense); at sf0.1 T=5 keeps ~10% of pairs and
# the graph has real structure. Shared engine/oracle constant.
TRI_CO_T = 5
_TRI_TOP = 20


def _sorted_array_pairs(
    df: DataFrame, arr: str, a: str, b: str
) -> DataFrame:
    """All ordered pairs ``(a < b)`` from a sorted-set array column:
    posexplode the array and pair each element with the strictly-later
    suffix. The slice is 1-based: the element at 0-based position ``i``
    pairs with 1-based positions ``i + 2`` onward -- everything after
    itself. One definition keeps the off-by-one-prone slice arithmetic
    shared by the triangle and common-neighbor pair builds."""
    return df.select(F.posexplode(arr).alias("i", a), arr).select(
        a,
        F.explode(F.expr(f"slice({arr}, i + 2, size({arr}))")).alias(b),
    )


def triangles_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the supplier co-supply backbone
    graph: nodes are suppliers, with an undirected edge between two
    suppliers that appear together in at least ``TRI_CO_T`` distinct
    orders. Emits the top-20 nodes by triangle participation with their
    degree and wedge count (the local clustering coefficient's exact
    numerator/denominator pair, never divided) -- "which suppliers sit in
    tightly-clustered trading cliques", the community/spam-structure
    question a curation pipeline asks of a link graph.

    Scale shape: lineitem is scanned ONCE -- per-order supplier sets are
    bounded (<= lines per order), so pair generation via a sorted-array
    double explode is O(rows x pairs-per-order), the w_corr_matrix
    stance, never a fact-fact self-join. Triangle enumeration uses the
    degree-ordered orientation (Suri & Vassilvitskii, WWW'11): every
    edge points from its (degree, node)-smaller endpoint, so each
    triangle is emitted exactly once from its orientation-minimal apex
    and the wedge join's fan-out is bounded by sum(out-degree^2) =
    O(E^1.5) on any graph -- hub nodes get high IN-degree, which the
    wedge join never expands. The oriented edge list is bounded
    (backbone pairs), localCheckpoint'd, and the 3-way self-join
    shuffles only it, never the fact table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_suppkey").cast("long").alias("s")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("s")).alias("ss")
    )
    pairs = _sorted_array_pairs(per_order, "ss", "u", "v")
    und = (
        pairs.groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .where(F.col("w") >= TRI_CO_T)
        .select("u", "v")
    )
    return triangle_core(und).limit(_TRI_TOP)


def triangle_core(und: DataFrame) -> DataFrame:
    """Degree-oriented exact triangle count over an undirected edge list
    ``(u, v)`` with u < v, distinct. Returns every node with its degree,
    triangle count, and wedge-pair count ``degree*(degree-1)``, ordered
    (triangles DESC, node ASC). Separated from the query so the
    hypothesis brute force can drive it on arbitrary graphs.

    Orientation: u -> v iff (deg(u), u) < (deg(v), v) lexicographically
    -- a total order, so exactly one orientation per edge exists and each
    triangle {a,b,c} is counted once: from its orientation-minimal node a
    via wedge (a->b, a->c) closed by the oriented edge b->c."""
    und = und.localCheckpoint()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionByName(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("dg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("dg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("dg").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # deg is |V|-bounded (small vs E) but |V| can be millions -- no
    # forced broadcast; AQE picks broadcast vs shuffle (the kcore probe
    # measured forced |V|-broadcasts costing 15x at 4x data).
    e = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
        .localCheckpoint()
    )
    x = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    y = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    z = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = x.join(y, "a").where(F.col("b") != F.col("c")).join(z, ["b", "c"])
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(pernode, "node", "left")
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("dg").alias("degree"),
            F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias(
                "triangles"
            ),
            (F.col("dg") * (F.col("dg") - 1)).cast("long").alias(
                "wedge_pairs"
            ),
        )
        .orderBy(F.col("triangles").desc(), "node")
    )


def _triangles_oracle() -> str:
    """Mirror of triangles_backbone: same backbone threshold and top-k
    constants; the oracle's edge build is the plain self-join form (the
    oracle optimizes for auditability, the engine for one scan)."""
    return f"""
        WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        und AS (
            SELECT CAST(a.l_suppkey AS BIGINT) AS u,
                   CAST(b.l_suppkey AS BIGINT) AS v
            FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
            GROUP BY 1, 2 HAVING COUNT(*) >= {TRI_CO_T}
        ),
        deg AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS dg
            FROM (SELECT u AS node FROM und
                  UNION ALL SELECT v AS node FROM und)
            GROUP BY node
        ),
        e AS (
            SELECT CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                        THEN u ELSE v END AS src,
                   CASE WHEN du.dg < dv.dg OR (du.dg = dv.dg AND u < v)
                        THEN v ELSE u END AS dst
            FROM und JOIN deg du ON und.u = du.node
                     JOIN deg dv ON und.v = dv.node
        ),
        tri AS (
            SELECT x.src AS a, x.dst AS b, y.dst AS c
            FROM e x JOIN e y ON x.src = y.src AND x.dst <> y.dst
            JOIN e z ON z.src = x.dst AND z.dst = y.dst
        ),
        pernode AS (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
            FROM (SELECT a AS node FROM tri
                  UNION ALL SELECT b AS node FROM tri
                  UNION ALL SELECT c AS node FROM tri)
            GROUP BY node
        )
        SELECT deg.node AS node, deg.dg AS degree,
               COALESCE(p.triangles, CAST(0 AS BIGINT)) AS triangles,
               CAST(deg.dg * (deg.dg - 1) AS BIGINT) AS wedge_pairs
        FROM deg LEFT JOIN pernode p ON deg.node = p.node
        ORDER BY triangles DESC, node LIMIT {_TRI_TOP}
    """


# k-core peel: drop nodes with degree < KCORE_K, remove their edges,
# repeat KCORE_ITERS times. The fixed point is the k-core; a FIXED
# iteration count keeps the semantics cross-engine-checkable (the
# PR_ITERS stance -- the oracle unrolls the same constant). The
# fixture's near-uniform degrees converge after one peel; cascading
# peels are exercised by the hypothesis brute force and the scale probe.
KCORE_K = 8
KCORE_ITERS = 4
_KCORE_TOP = 20


def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core decomposition of the bipartite customer-supplier
    trade graph (same node/edge build as ``g_pagerank``): peel nodes
    with fewer than ``KCORE_K`` distinct counterparties, cascade
    ``KCORE_ITERS`` rounds, and emit the top-20 surviving nodes by
    residual degree -- "which counterparties remain after pruning the
    thin periphery", the dense-subgraph seed that community detection
    and spam-farm analysis start from.

    Scale shape: per round, one aggregation over the edge list (degree
    per src) and one semi-join pruning both endpoints -- each keyed on
    the node, so at 100 TB the edge list stays hash-partitioned on src
    across rounds and only the |V|-bounded keep-set moves (AQE picks
    broadcast vs shuffle per round). ``localCheckpoint`` truncates
    lineage per round, as in the PageRank and connected-components
    loops."""
    edges = _trade_edges_cached(spark, sf_dir)
    return kcore_core(edges).limit(_KCORE_TOP)


def kcore_core(edges: DataFrame) -> DataFrame:
    """``KCORE_ITERS`` rounds of degree-``KCORE_K`` peeling over a
    symmetric directed edge list ``(src, dst)`` (distinct rows; every
    undirected edge present in both directions). Returns surviving
    nodes with residual degree, ordered (degree DESC, node ASC).
    Separated from the query so the hypothesis brute force can drive it
    on arbitrary graphs where the peel actually cascades."""
    edges = edges.localCheckpoint()
    for _ in range(KCORE_ITERS):
        keep = (
            edges.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("d"))
            .where(F.col("d") >= KCORE_K)
            .select("node")
        )
        # No broadcast hint: the keep set is |V|-bounded but |V| can be
        # millions (the 1M-node probe regime) -- forcing broadcast there
        # cost 15x at 4x data. Let AQE pick broadcast vs shuffle per
        # round; at 100 TB the shuffle side stays hash-partitioned on
        # the node key across rounds.
        edges = (
            edges.join(
                keep.withColumnRenamed("node", "src"), "src", "left_semi"
            )
            .join(
                keep.withColumnRenamed("node", "dst"), "dst", "left_semi"
            )
            .select("src", "dst")
            .localCheckpoint()
        )
    return (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("degree"))
        .orderBy(F.col("degree").desc(), "node")
    )


def _kcore_oracle() -> str:
    """Mirror of kcore_trade_graph: K and the iteration count generate
    the unrolled CTE chain, so engine and oracle share every constant."""
    cte = [
        """pairs AS MATERIALIZED (
            SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                   'S' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )""",
        """e0 AS MATERIALIZED (
            SELECT src, dst FROM pairs
            UNION ALL SELECT dst, src FROM pairs
        )""",
    ]
    # Every e{i-1} is referenced three times per round (k{i} plus both
    # joins): without MATERIALIZED, DuckDB 1.0 inlines non-recursive
    # CTEs and the chain re-expands ~3^KCORE_ITERS -- the same blow-up
    # class the BFS and MMR oracles guard against (the documented
    # v_mmr_select >60 s lesson; ADVICE r7).
    for i in range(1, KCORE_ITERS + 1):
        cte.append(f"""k{i} AS MATERIALIZED (
            SELECT src AS node FROM e{i - 1}
            GROUP BY src HAVING COUNT(*) >= {KCORE_K}
        )""")
        cte.append(f"""e{i} AS MATERIALIZED (
            SELECT e.src, e.dst FROM e{i - 1} e
            JOIN k{i} a ON e.src = a.node
            JOIN k{i} b ON e.dst = b.node
        )""")
    body = ",\n        ".join(cte)
    return f"""
        WITH {body}
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM e{KCORE_ITERS}
        GROUP BY src ORDER BY degree DESC, node LIMIT {_KCORE_TOP}
    """


# Hub guard for common-neighbor pair generation: customers adjacent to
# more than this many suppliers are dropped before pair expansion (the
# standard posting-list frequency cap -- a hub customer connects
# everyone to everyone and carries no signal while costing d^2 pairs).
# Part of the query's semantics, shared engine/oracle; the fixture's max
# per-customer degree is 102 (sf0.1), so the cap never fires there.
CN_CAP = 256
_CN_TOP = 20


def common_neighbors_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the supplier projection of
    the customer-supplier bipartite graph: for supplier pairs, how many
    customers they share, plus exact Jaccard as integers (intersection,
    union, and ppm ratio via integer division -- never a float). Emits
    the top-20 pairs by (common DESC, s1, s2) -- "which suppliers serve
    the same clientele", the co-citation / co-purchase similarity that
    link-prediction and community curation pipelines compute over
    bipartite graphs.

    Scale shape: the fact tables are scanned once into distinct
    (customer, supplier) adjacency; pair generation is per-customer over
    a bounded sorted array (posting-list expansion, the dedup
    inverted-index stance) -- total pair instances = sum over customers
    of d^2, with d capped at ``CN_CAP`` so one hub can never go
    quadratic in the corpus. The (s1, s2) count aggregation gets
    map-side partials; the |V|-bounded degree joins are left to AQE
    (broadcast when small, shuffle when |V| outgrows it)."""
    cs = _cs_pairs_cached(spark, sf_dir)
    return common_neighbors_core(cs).limit(_CN_TOP)


def common_neighbors_core(cs: DataFrame, cap: int = CN_CAP) -> DataFrame:
    """Common-neighbor / exact-Jaccard scores over a bipartite adjacency
    ``(c, s)`` (distinct rows): pairs of s-nodes sharing at least one
    c-node, with degrees computed over the SAME cap-filtered adjacency
    so intersection and union refer to one universe. Ordered
    (common DESC, s1, s2) -- total, since (s1, s2) is unique. Separated
    from the query so the hypothesis brute force can drive it on
    arbitrary bipartite graphs with a small cap."""
    per_c = (
        cs.groupBy("c")
        .agg(F.array_sort(F.collect_set("s")).alias("ss"))
        .where(F.size("ss") <= cap)
    )
    deg = (
        per_c.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count("*").cast("long").alias("dg"))
    )
    pairs = _sorted_array_pairs(per_c, "ss", "a", "b")
    common = pairs.groupBy("a", "b").agg(
        F.count("*").cast("long").alias("common")
    )
    da = deg.select(F.col("s").alias("a"), F.col("dg").alias("deg_a"))
    db = deg.select(F.col("s").alias("b"), F.col("dg").alias("deg_b"))
    return (
        common.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("s1"),
            F.col("b").alias("s2"),
            "common",
            "deg_a",
            "deg_b",
            (F.col("deg_a") + F.col("deg_b") - F.col("common"))
            .cast("long")
            .alias("union_cnt"),
            F.expr(
                "CAST((1000000 * common) DIV"
                " (deg_a + deg_b - common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("common").desc(), "s1", "s2")
    )


def _common_neighbors_oracle() -> str:
    """Mirror of common_neighbors_suppliers: same cap/top-k constants;
    the oracle's pair build is the plain self-join form."""
    return f"""
        WITH cs AS (
            SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
                   CAST(l_suppkey AS BIGINT) AS s
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ),
        kept AS (SELECT c FROM cs GROUP BY c HAVING COUNT(*) <= {CN_CAP}),
        csk AS (SELECT cs.c, cs.s FROM cs JOIN kept ON cs.c = kept.c),
        deg AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS dg FROM csk GROUP BY s
        ),
        pr AS (
            SELECT x.s AS a, y.s AS b, CAST(COUNT(*) AS BIGINT) AS common
            FROM csk x JOIN csk y ON x.c = y.c AND x.s < y.s
            GROUP BY 1, 2
        )
        SELECT a AS s1, b AS s2, common,
               da.dg AS deg_a, db.dg AS deg_b,
               CAST(da.dg + db.dg - common AS BIGINT) AS union_cnt,
               CAST((1000000 * common) // (da.dg + db.dg - common)
                    AS BIGINT) AS jaccard_ppm
        FROM pr JOIN deg da ON a = da.s JOIN deg db ON b = db.s
        ORDER BY common DESC, s1, s2 LIMIT {_CN_TOP}
    """


def _pagerank_oracle() -> str:
    """Mirror of pagerank_trade_graph: the iteration count, scale, and
    damping integers generate the unrolled CTE chain, so engine and
    oracle share every constant."""
    cte = [
        """pairs AS (
            SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR) AS src,
                   'S' || CAST(l_suppkey AS VARCHAR) AS dst
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        )""",
        """edges AS (
            SELECT src, dst FROM pairs
            UNION ALL SELECT dst, src FROM pairs
        )""",
        """nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst AS node FROM edges
            )
        )""",
        """deg AS (
            SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outd
            FROM edges GROUP BY src
        )""",
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        f"""r0 AS (
            SELECT node, CAST({PR_SCALE} // n AS BIGINT) AS r
            FROM nodes CROSS JOIN nn
        )""",
    ]
    for i in range(1, PR_ITERS + 1):
        cte.append(f"""s{i} AS (
            SELECT e.dst AS node, CAST(SUM(r.r // d.outd) AS BIGINT) AS s
            FROM edges e
            JOIN r{i - 1} r ON e.src = r.node
            JOIN deg d ON e.src = d.node
            GROUP BY e.dst
        )""")
        cte.append(f"""r{i} AS (
            SELECT nodes.node,
                   CAST(({_T_NUM} * ({PR_SCALE} // nn.n)) // {_DEN}
                        + ({_D_NUM} * COALESCE(s{i}.s, CAST(0 AS BIGINT)))
                        // {_DEN} AS BIGINT) AS r
            FROM nodes CROSS JOIN nn
            LEFT JOIN s{i} ON nodes.node = s{i}.node
        )""")
    body = ",\n        ".join(cte)
    return f"""
        WITH {body}
        SELECT node, r AS rank_scaled FROM r{PR_ITERS}
        ORDER BY r DESC, node LIMIT {_TOP_K}
    """


QUERIES = {
    "g_pagerank": pagerank_trade_graph,
    "g_triangles": triangles_backbone,
    "g_common_neighbors": common_neighbors_suppliers,
    "g_kcore": kcore_trade_graph,
    "g_bfs_hops": bfs_hops_trade_graph,
}

ORACLES = {
    # Unrolled fixed-iteration integer PageRank; every value BIGINT.
    "g_pagerank": _pagerank_oracle(),
    # Degree-oriented triangle counting; every value BIGINT.
    "g_triangles": _triangles_oracle(),
    # Common-neighbor / integer-Jaccard link prediction; every value BIGINT.
    "g_common_neighbors": _common_neighbors_oracle(),
    # Unrolled fixed-iteration k-core peel; every value BIGINT.
    "g_kcore": _kcore_oracle(),
    # Unrolled fixed-round multi-source BFS; every value BIGINT.
    "g_bfs_hops": _bfs_oracle(),
}
