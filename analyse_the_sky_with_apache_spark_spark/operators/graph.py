"""Graph analytics on plain DataFrames (co-purchase graph).

The graph is derived from the fixtures: parts are vertices, and an edge
connects two parts that appear in the same order (the classic market-
basket projection; basket_item_pairs mines the weighted version). No
graph framework is involved — edges are rows, and every kernel here is
self-joins and aggregations over them, which is exactly how graph
workloads run at 100 TB (GraphX/GraphFrames compile to the same joins):
single-pass kernels (triangles, degrees, link prediction), unrolled
recurrences (PageRank, label propagation, Katz, betweenness) and loops
that checkpoint each round (k-core, BFS, two-star components).

One graph, two engines: `_edges` builds the edge table in Spark and
`_e_sql` renders the same edge set as the DuckDB CTE ``e`` the oracles
start from, either every co-purchased pair or the STRONG subgraph of
pairs co-purchased in ≥ 2 orders. `_adjacency` is that table both ways
round, and `_bfs` is the one multi-source frontier loop, with `_bfs_sql`
its recursive-CTE twin. Min-label connected components live in
pipeline/closure.py (`components` / `components_sql`).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, local_frame, session_checkpoint
from ..functions.exact import grid, grid_sql, md5_int, md5_int_sql
from ..pipeline.closure import components_sql
from ..pipeline.dedup import NEAR_DUP_PAIRS_SQL
from ..registry import register


def _edges(spark: SparkSession, sf_dir: str, strong: bool = False) -> DataFrame:
    """Undirected co-purchase edges ``(u, v)``, canonically u < v: every
    pair of parts sharing an order, or with ``strong`` the pairs sharing
    at least two orders, with that count as ``w``."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    u, v = F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
    if not strong:
        return pairs.select(u, v).distinct()
    return (
        pairs.groupBy(u, v)
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )


def _e_sql(strong: bool = False, materialized: bool = False) -> str:
    """DuckDB twin of `_edges`: the CTE ``e(u, v)`` (no ``w`` column).
    ``materialized`` is for oracles that read ``e`` in every unrolled
    round."""
    pairs = """a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey"""
    body = (
        f"SELECT {pairs}\n  GROUP BY 1, 2 HAVING COUNT(*) >= 2"
        if strong
        else f"SELECT DISTINCT {pairs}"
    )
    return f"e AS {'MATERIALIZED ' if materialized else ''}(\n  {body}\n)"


def _adj_sql(nb: str = "nbr") -> str:
    """DuckDB twin of `_adjacency`: ``adj(node, nb)``, ``e`` both ways."""
    return f"adj AS (SELECT u AS node, v AS {nb} FROM e UNION ALL SELECT v, u FROM e)"


def _edges_cached(
    spark: SparkSession, sf_dir: str, strong: bool = False
) -> DataFrame:
    """`_edges`, materialized once per session. Every co-purchase kernel
    starts from this table: uncached, each one re-pays the lineitem
    self-join (~1.5 s of graph_degree_hist's 2.6 s at sf0.1), and a
    kernel that reads it several times re-derives it per read (the
    jaccard plan held 36 lineitem scans before the checkpoint, 1 after;
    tests/test_plan_shape_wedge.py pins it)."""
    return session_checkpoint(
        spark, ("edges", sf_dir, strong), lambda: _edges(spark, sf_dir, strong)
    )


def _adjacency(
    spark: SparkSession, sf_dir: str, strong: bool = False
) -> DataFrame:
    """The cached edge table both ways round, ``(node, nbr)`` plus the
    edge's other columns, itself materialized once per session — the
    neighbor list every frontier join, wedge self-join and degree count
    reads."""

    def both_ways() -> DataFrame:
        e = _edges_cached(spark, sf_dir, strong)
        rest = e.columns[2:]
        return e.select(
            F.col("u").alias("node"), F.col("v").alias("nbr"), *rest
        ).unionAll(
            e.select(F.col("v").alias("node"), F.col("u").alias("nbr"), *rest)
        )

    return session_checkpoint(spark, ("adjacency", sf_dir, strong), both_ways)


def _degrees(adj: DataFrame) -> DataFrame:
    """``(node, d)``: each node's degree."""
    return adj.groupBy("node").agg(F.count(F.lit(1)).alias("d"))


def _hubs(deg: DataFrame, n: int) -> DataFrame:
    """The ``n`` highest-degree nodes, ties to the lower id — the
    bounded source set of the sampled centralities."""
    return deg.orderBy(F.col("d").desc(), "node").limit(n).select("node")


def _bfs(
    adj: DataFrame, seeds: DataFrame, keys: Sequence[str], max_hops: int
) -> DataFrame:
    """Multi-source BFS: the ``seeds`` rows (columns ``keys``, one of
    them ``node``; any other key, such as a source tag, rides along) at
    ``hop`` 0, plus every ``keys`` row first reached at hop 1 …
    ``max_hops``.

    Each round joins only the CURRENT frontier (the rows found the
    round before) to the adjacency, anti-joins the visited set and tags
    the survivors with the round number — exactly the hop-k rows enter
    at round k, so no min-label re-convergence is needed (contrast
    `dedup_connected_components`). The frontier is checkpointed each
    round; the visited set is a union of those checkpoints, so its
    lineage stays flat without one of its own, and the empty-frontier
    probe is skipped on the last round, which ends the loop anyway. At
    100 TB each round shuffles |frontier| × avg-degree rows keyed on
    node — the standard Pregel-without-Pregel shape.
    """
    step = [F.col("nbr").alias("node") if k == "node" else k for k in keys]
    visited = seeds.select(*keys, F.lit(0).alias("hop")).localCheckpoint(
        eager=True
    )
    frontier = visited.select(*keys)
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(adj, "node")
            .select(*step)
            .distinct()
            .join(visited, list(keys), "left_anti")
            .select(*keys, F.lit(hop).alias("hop"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionAll(nxt)
        frontier = nxt.select(*keys)
        if hop < max_hops and nxt.limit(1).count() == 0:
            break
    return visited

def _bfs_sql(seeds: str, keys: Sequence[str], max_hops: int) -> str:
    """DuckDB twin of `_bfs`: the recursive closure ``reach`` over
    ``adj`` from the ``keys`` columns of the ``seeds`` CTE, and
    ``visited(keys…, hop)`` — each row reached within ``max_hops`` at
    its first hop, the rows `_bfs` returns."""
    cols = ", ".join(keys)
    step = ", ".join("adj.nbr AS node" if k == "node" else f"reach.{k}" for k in keys)
    return f"""reach AS (
  SELECT {cols}, 0 AS hop FROM {seeds}
  UNION
  SELECT {step}, reach.hop + 1 AS hop
  FROM reach JOIN adj ON adj.node = reach.node
  WHERE reach.hop < {max_hops}
),
visited AS (SELECT {cols}, MIN(hop) AS hop FROM reach GROUP BY {cols})"""


def _triangles(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of ``e`` once, as ``(apex, u, v)``: each edge is
    oriented low → high in (degree, id) order, the apex is the corner
    with two out-edges, and its out-neighbor pair (u < v) must itself be
    an edge."""
    du = deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du")
    dv = deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv")
    oriented = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.t").alias("t"))
    )
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = (
        o1.join(o2, F.col("o1.s") == F.col("o2.s"))
        .filter(F.col("o1.t") < F.col("o2.t"))
        .select(
            F.col("o1.s").alias("apex"),
            F.col("o1.t").alias("u"),
            F.col("o2.t").alias("v"),
        )
    )
    return wedges.join(e, ["u", "v"], "left_semi")


@register(
    "graph_triangles",
    oracle=f"""
WITH {_e_sql()},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM e e1 JOIN e e2 ON e2.u = e1.v
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
wed AS (
  SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS w,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       n_nodes, w AS n_wedges, t AS n_triangles,
       3.0 * CAST(t AS DOUBLE) / CAST(w AS DOUBLE) AS clustering_coeff
FROM tri, wed
""",
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    co-purchase graph.

    The engine counts triangles over the DEGREE-ORDERED orientation:
    each undirected edge points from its lower-(degree, id) endpoint to
    the higher one, so every triangle has exactly one vertex with two
    out-edges and is enumerated exactly once from it. That bounds the
    wedge join to O(m^1.5) regardless of skew — a hub of degree 100k
    contributes no wedges from its in-edges — which is THE difference
    between a triangle count that finishes at 100 TB and one that
    doesn't. The oracle deliberately uses the naive u<v three-way join
    instead: two independent enumeration strategies must agree on the
    exact count, so the optimization itself is hash-checked. The
    clustering coefficient (3T/W) divides two exact longs — one
    deterministic double.
    """
    e = _edges_cached(spark, sf_dir)
    deg = _degrees(_adjacency(spark, sf_dir))
    tri = _triangles(e, deg).count()
    # driver-side scalars: three tiny aggregates feeding one literal row
    n_edges = e.count()
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("w"),
    ).collect()[0]
    return local_frame(
        spark,
        [
            (
                n_edges,
                stats["n_nodes"],
                stats["w"],
                tri,
                3.0 * float(tri) / float(stats["w"]),
            )
        ],
        "n_edges BIGINT, n_nodes BIGINT, n_wedges BIGINT, "
        "n_triangles BIGINT, clustering_coeff DOUBLE",
    )


@register(
    "graph_degree_hist",
    oracle=f"""
WITH {_e_sql()},
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
)
SELECT CAST(FLOOR(LOG2(d)) AS BIGINT) AS degree_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree
FROM deg
GROUP BY 1
""",
)
def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution of the co-purchase graph — the
    first diagnostic run on any new graph (is it power-law? where do
    the hubs start?), and the input to choosing the triangle-count
    orientation and join-skew strategy above. Two aggregations, both
    map-combining; the log2 bucket keeps the output O(log max-degree)
    rows at any scale.
    """
    deg = _degrees(_adjacency(spark, sf_dir))
    return deg.groupBy(
        F.floor(F.log2("d")).cast("long").alias("degree_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("d").cast("long").alias("min_degree"),
        F.max("d").cast("long").alias("max_degree"),
    )


#: Weighted-trade PageRank constants (named apart from the co-purchase
#: `_PR_SCALE`/`_PR_ITERS` pair below — that later module-level
#: assignment silently retargeted the old float kernel's iteration
#: count, a trap these avoid).
_PRT_SCALE = 10**12
_PRT_ITERS = 5
#: damping 0.85 as the exact integer pair 85/100.
_PRT_DAMP_NUM, _PRT_DAMP_DEN = 85, 100


def _prt_oracle() -> str:
    """Unrolled integer power iteration over the trade graph — one
    MATERIALIZED CTE per round (inlining would re-expand the whole
    edge build per reference)."""
    ctes = [
        """e AS MATERIALIZED (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2)""",
        "ow AS MATERIALIZED (SELECT src, SUM(w) AS ow FROM e GROUP BY src)",
        """nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e))""",
        "nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes)",
        f"""r0 AS MATERIALIZED (
  SELECT node, CAST({_PRT_SCALE} // nn.n AS BIGINT) AS rank
  FROM nodes, nn)""",
    ]
    for k in range(1, _PRT_ITERS + 1):
        ctes.append(
            f"""r{k} AS MATERIALIZED (
  SELECT d.node,
         CAST(({100 - _PRT_DAMP_NUM} * {_PRT_SCALE}) // ({_PRT_DAMP_DEN} * nn.n)
              + ({_PRT_DAMP_NUM} * COALESCE(inc.s, 0)) // {_PRT_DAMP_DEN}
              AS BIGINT) AS rank
  FROM nodes d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, SUM((r.rank * e.w) // o.ow) AS s
    FROM e
    JOIN r{k - 1} r ON r.node = e.src
    JOIN ow o ON o.src = e.src
    GROUP BY e.dst
  ) inc ON inc.dst = d.node)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, rank FROM r{_PRT_ITERS}
ORDER BY rank DESC, node
"""
    )


@register("graph_pagerank", oracle=_prt_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the international trade graph (customer nation →
    supplier nation, weighted by line count) — the canonical ITERATIVE
    DataFrame kernel alongside kmeans_lloyd and the label-propagation
    connected components.

    Promoted rows-only → oracle-checked (VERDICT r6 task 2) with the
    `graph_pagerank_exact` integer discipline applied to the WEIGHTED
    graph: ranks live in 1e-12 micro-units, each edge carries
    ``(rank·w) div outw`` (the weighted transition, floored — sub-unit
    mass is deliberately dropped for determinism), and damping is the
    integer pair 85/100. Every round is bit-identical in any engine at
    any partitioning, so the full rank vector hash-matches DuckDB's
    unrolled-CTE evaluation of the same recurrence. Overflow headroom:
    rank ≤ 1e12 and the heaviest fixture edge weight ≤ ~1e4 keeps
    rank·w ≤ 1e16 ≪ 2^63 (safe through sf1; a 1e6-weight edge set
    would move to a 1e9 scale).

    Each iteration is one contribution join on the source key + one
    destination-keyed aggregation + a left join back to the node set;
    ``localCheckpoint`` truncates lineage so the plan never grows with
    the iteration count — the same pattern that runs billion-node
    graphs, where the join becomes a shuffle co-partitioned on the
    node key across iterations. Every fixture nation has outbound
    trade, so no dangling-mass correction is needed (asserted in
    tests); tests/test_scale_patterns.py re-derives the identical
    int64 recurrence in numpy and checks exact equality.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = edges.join(outw, "src").localCheckpoint(eager=True)
    nodes = (
        trans.select(F.col("src").alias("node"))
        .union(trans.select("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    base = ((100 - _PRT_DAMP_NUM) * _PRT_SCALE) // (_PRT_DAMP_DEN * n)
    ranks = nodes.select(
        "node", F.lit(_PRT_SCALE // n).cast("long").alias("rank")
    )
    for _ in range(_PRT_ITERS):
        inc = (
            trans.join(ranks, trans.src == ranks.node)
            .select("dst", F.expr("(rank * w) div ow").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            nodes.join(inc, nodes.node == inc.dst, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({_PRT_DAMP_NUM} * coalesce(s, 0L))"
                        f" div {_PRT_DAMP_DEN}"
                    )
                )
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.orderBy(F.col("rank").desc(), "node")


#: two-star convergence bound: O(log² n) rounds in theory, ~5 in practice.
_TWOSTAR_MAX_ITERS = 15


@register(
    "graph_components_twostar",
    oracle=f"""
WITH RECURSIVE {NEAR_DUP_PAIRS_SQL},
{components_sql("SELECT doc_id FROM documents")}
SELECT node_id AS doc_id, component FROM comp
""",
)
def graph_components_twostar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the 100-TB upgrade over plain min-label propagation, previously
    only DOCUMENTED in dedup_connected_components' docstring and now
    implemented and hash-checked against the same recursive-CTE oracle
    on the same near-dup graph.

    Why it scales where label propagation stalls: propagation needs
    diameter-many rounds (a 10⁶-long chain needs 10⁶ joins); the star
    operations rewire every node toward its neighborhood minimum, so
    components collapse to stars in O(log²n) rounds regardless of
    diameter. Each round is two edge-keyed groupBy+join passes over
    the (shrinking) edge list; localCheckpoint keeps plans flat. The
    convergence probe here is an exceptAll-emptiness check (exact);
    at true scale swap it for the paper's per-round change counter —
    an aggregate that rides the same shuffle for free.

    large-star(u): every neighbor v > u re-points to m = min(N(u)∪{u});
    small-star(u): every neighbor v ≤ u re-points to that same m.
    Fixpoint = disjoint stars; component id = min over (self ∪ final
    neighbors) = the component's global minimum, matching the oracle's
    MIN(reachable) definition.
    """
    from ..pipeline.dedup import _CC_JACCARD, jaccard_pairs

    pairs = jaccard_pairs(spark, sf_dir, _CC_JACCARD).select("ia", "ib")
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node_id")
    )
    return _twostar(nodes, pairs).toDF("doc_id", "component")


def _twostar(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """`graph_components_twostar`'s loop on any graph: ``nodes(node_id)``
    and ``pairs(ia, ib)`` as for `components`; returns ``(node_id,
    component)``, or raises once ``_TWOSTAR_MAX_ITERS`` rounds pass
    without a fixpoint."""
    edges = (
        pairs.select(F.col("ia").alias("u"), F.col("ib").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v"), F.col("u"))).toDF("u", "v")
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        out = (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    def small_star(e: DataFrame) -> DataFrame:
        lo = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = lo.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        out = (
            lo.join(m, "u")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    for _ in range(_TWOSTAR_MAX_ITERS):
        after = small_star(large_star(edges)).localCheckpoint(eager=True)
        changed = (
            after.exceptAll(edges).limit(1).count()
            + edges.exceptAll(after).limit(1).count()
        )
        edges = after
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"graph_components_twostar: edges still changing after "
            f"_TWOSTAR_MAX_ITERS={_TWOSTAR_MAX_ITERS} rounds"
        )

    # stars: every non-root points at its root; component = min(self, roots)
    lab = (
        edges.union(edges.select(F.col("v"), F.col("u")))
        .toDF("node_id", "nb")
        .groupBy("node_id")
        .agg(F.min("nb").alias("nmin"))
    )
    return nodes.join(lab, "node_id", "left").select(
        "node_id",
        F.least(
            F.col("node_id"), F.coalesce(F.col("nmin"), F.col("node_id"))
        ).alias("component"),
    )


def _wedges(adj: DataFrame) -> DataFrame:
    """``(c, x, y)``: every neighbor pair x < y of a center c — the
    link-prediction candidates, enumerated through a shared center (a
    self-equi-join on the center), never an all-pairs product."""
    a, b = adj.alias("a"), adj.alias("b")
    return a.join(
        b,
        (F.col("a.node") == F.col("b.node")) & (F.col("a.nbr") < F.col("b.nbr")),
    ).select(
        F.col("a.node").alias("c"),
        F.col("a.nbr").alias("x"),
        F.col("b.nbr").alias("y"),
    )


def _top_non_edges(score: DataFrame, e: DataFrame, by: str) -> DataFrame:
    """The 50 candidate pairs with the highest ``by`` that are not yet
    edges, ties broken on (x, y)."""
    nonedge = score.join(e, (score.x == e.u) & (score.y == e.v), "left_anti")
    return (
        nonedge.select("x", "y", "cn", by)
        .orderBy(F.col(by).desc(), "x", "y")
        .limit(50)
    )


@register(
    "graph_common_neighbors",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
cand AS (
  SELECT a.nbr AS x, b.nbr AS y, COUNT(*) AS cn
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
  GROUP BY a.nbr, b.nbr
),
nonedge AS (
  SELECT c.x, c.y, c.cn FROM cand c
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.x AND e.v = c.y)
)
SELECT n.x, n.y, n.cn, dx.d AS deg_x, dy.d AS deg_y,
       CAST(n.cn AS DOUBLE) / (dx.d + dy.d - n.cn) AS jaccard
FROM nonedge n
JOIN deg dx ON dx.node = n.x
JOIN deg dy ON dy.node = n.y
ORDER BY n.cn DESC, n.x, n.y
LIMIT 50
""",
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor counting: for part pairs NOT
    yet co-purchased, how many shared co-purchase neighbors they have
    (plus neighbor-set Jaccard) — the classic similarity signal for
    recommendations, over the same co-purchase graph as the triangle /
    degree / PageRank kernels.

    The graph is the STRONG-edge subgraph: pairs co-purchased in ≥ 2
    orders. Edge-weight thresholding before link prediction is both
    the semantically right denoising step (one shared order is
    coincidence) and the scale lever — the raw co-purchase graph at
    sf0.1 is near-complete (avg degree ~120, Σd² ≈ 3·10⁸ wedges,
    measured 26 s) while the strong subgraph has Σd² ≈ 1.2·10⁴; at
    100 TB raise the weight threshold (or cap hub degrees) to hold
    the wedge budget, the plan is unchanged.

    Plan: wedges enumerate through a self-join of the adjacency on the
    CENTER node (every candidate pair materializes through a shared
    neighbor, never an all-pairs product), one aggregate collapses
    wedge multiplicity into the CN count, known edges drop via an anti
    join, degrees broadcast. Ranking is on exact integers with (x, y)
    tie-breaks; the jaccard column is one exact-operand division.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    adj = _adjacency(spark, sf_dir, strong=True)
    deg = _degrees(adj)
    cand = _wedges(adj).groupBy("x", "y").agg(F.count(F.lit(1)).alias("cn"))
    nonedge = cand.join(
        e, (cand.x == e.u) & (cand.y == e.v), "left_anti"
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("deg_x"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("deg_y"))
    return (
        nonedge.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "cn",
            "deg_x",
            "deg_y",
            (
                F.col("cn").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("cn").desc(), "x", "y")
        .limit(50)
    )


#: BFS depth bound for graph_bfs_hops.
_BFS_MAX_HOPS = 4


@register(
    "graph_bfs_hops",
    oracle=f"""
WITH RECURSIVE {_e_sql(strong=True)},
{_adj_sql()},
seeds AS (
  SELECT DISTINCT node FROM adj
  JOIN part ON p_partkey = node
  WHERE p_size = 50
),
{_bfs_sql("seeds", ["node"], _BFS_MAX_HOPS)}
SELECT node, CAST(hop AS BIGINT) AS hops FROM visited
""",
)
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ 4) from the seed set
    (size-50 parts) over the strong co-purchase graph — the iterative
    graph primitive under "what is reachable from / how close to X",
    checked against DuckDB's recursive CTE as an independent
    implementation of the same fixpoint.

    Spark side: `_bfs`, the module's frontier loop, from every seed at
    once; the driver never sees data, only the loop counter.
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 50)
    seeds = (
        adj.select("node")
        .distinct()
        .join(p, F.col("node") == p.p_partkey, "left_semi")
    )
    visited = _bfs(adj, seeds, ["node"], _BFS_MAX_HOPS)
    return visited.select("node", F.col("hop").cast("long").alias("hops"))


#: integer PageRank: per-node rank in micro-units, 5 iterations.
_PR_SCALE, _PR_ITERS = 1_000_000, 5


def _pr_oracle() -> str:
    """Five unrolled integer-PageRank iterations as chained CTEs."""
    base = 15 * _PR_SCALE // 100
    ctes = [
        f"""{_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS rank FROM deg)"""
    ]
    for k in range(1, _PR_ITERS + 1):
        ctes.append(
            """r{k} AS (
  SELECT d.node,
         {base} + (85 * COALESCE(inc.s, 0)) // 100 AS rank
  FROM deg d LEFT JOIN (
    SELECT a.nbr AS node, CAST(SUM(r.rank // g.d) AS BIGINT) AS s
    FROM adj a
    JOIN r{p} r ON r.node = a.node
    JOIN deg g ON g.node = a.node
    GROUP BY a.nbr
  ) inc ON inc.node = d.node
)""".format(k=k, p=k - 1, base=base)
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT node, rank
FROM r{_PR_ITERS}
ORDER BY rank DESC, node
LIMIT 20
"""
    )


@register("graph_pagerank_exact", oracle=_pr_oracle())
def graph_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in EXACT integer arithmetic, hash-verified — the
    template that round 7 folded back into `graph_pagerank` itself
    (now integer-exact and oracle-checked on the weighted trade
    graph); this key keeps the unweighted co-purchase variant: ranks
    live in
    micro-units, each node's outgoing contribution is an integer
    division by its degree, and the damping step is integer
    multiply-divide — every iteration is bit-identical in any engine,
    at any partitioning, so five rounds later the top-20 hash-matches
    DuckDB's unrolled-CTE evaluation of the same recurrence.

    The integer recurrence drops sub-microunit rank mass at each
    division (deliberately — determinism is worth 1e-6 of rank), so it
    is PageRank up to that quantization. Plan per round: one
    contribution join keyed on the edge source + one nbr-keyed
    aggregate + one left join back to the node set — the standard
    Pregel-free shape with `localCheckpoint` lineage truncation
    (`dedup_connected_components` precedent).
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    deg = _degrees(adj)
    ranks = deg.select(
        "node", F.lit(_PR_SCALE).cast("long").alias("rank")
    ).localCheckpoint(eager=True)
    base = 15 * _PR_SCALE // 100
    for _ in range(_PR_ITERS):
        inc = (
            adj.join(ranks, "node")
            .join(deg, "node")
            .select("nbr", F.expr("rank div d").alias("contrib"))
            .groupBy("nbr")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.select("node")
            .join(inc, deg.node == inc.nbr, "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr("85 * coalesce(s, 0) div 100")
                ).cast("long").alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.orderBy(F.col("rank").desc(), "node").limit(20)


#: k-core peeling: the core order and the bounded number of peel rounds.
_KCORE_K, _KCORE_ROUNDS = 2, 6


def _kcore_oracle() -> str:
    """Bounded k-core peel as unrolled CTE rounds (pagerank precedent).

    Every CTE is MATERIALIZED: round ``n{i}`` reads ``n{i-1}`` three
    times inside a correlated subquery, so an inlining planner
    (DuckDB 1.0) grows the work about threefold per round."""
    ctes = [
        f"""{_e_sql(strong=True, materialized=True)},
n0 AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e)"""
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            """n{i} AS MATERIALIZED (
  SELECT node FROM n{p}
  WHERE (SELECT COUNT(*) FROM e
         JOIN n{p} x ON x.node = e.u
         JOIN n{p} y ON y.node = e.v
         WHERE e.u = n{p}.node OR e.v = n{p}.node) >= {k}
)""".format(i=i, p=i - 1, k=_KCORE_K)
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node FROM n{_KCORE_ROUNDS} ORDER BY node"
    )


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=2, bounded rounds): iteratively drop nodes
    with fewer than k surviving neighbors — the standard dense-region
    extractor (spam rings, co-purchase communities, graph
    sparsification all start at the 2-core, which strips every
    tree-like tendril). Both engines run EXACTLY the same bounded
    number of peel rounds over the strong co-purchase graph, so the
    surviving node set is deterministic by construction; the fixture
    graph converges within the bound (asserted in tests — one more
    round changes nothing).

    Plan per round: recompute surviving degrees with one edge⋈nodes
    join + aggregate, filter — the same Pregel-free shape as BFS/CC,
    lineage truncated per round. At 100 TB exact k-core uses the same
    loop to fixpoint; the peel is monotone, so each round strictly
    shrinks the node set and the loop count is bounded by the
    degeneracy ordering depth.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    nodes = (
        _adjacency(spark, sf_dir, strong=True)
        .select("node")
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(_KCORE_ROUNDS):
        live_e = (
            e.join(nodes, e.u == nodes.node, "left_semi")
            .join(nodes, F.col("v") == nodes.node, "left_semi")
        )
        deg = (
            live_e.select(F.col("u").alias("node"))
            .unionAll(live_e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        nodes = (
            nodes.join(deg, "node", "left")
            .filter(F.coalesce(F.col("d"), F.lit(0)) >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=True)
        )
    return nodes.orderBy("node")


#: Shared 2-round deterministic-LPA CTE chain (ends at the final label
#: assignment ``l2``); both `graph_label_propagation`'s and
#: `graph_modularity`'s oracles are built from THIS string so a future
#: tie-break tweak cannot decouple the quality gate from the partition
#: it scores (ADVICE round 3).
_LPA_CTE = f"""
WITH {_e_sql()},
{_adj_sql("nb")},
l0 AS (SELECT DISTINCT node, node AS lbl FROM adj),
c1 AS (
  SELECT a.node, l.lbl, COUNT(*) AS c
  FROM adj a JOIN l0 l ON l.node = a.nb
  GROUP BY a.node, l.lbl
),
l1 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT a.node, l.lbl, COUNT(*) AS c
  FROM adj a JOIN l1 l ON l.node = a.nb
  GROUP BY a.node, l.lbl
),
l2 AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
    FROM c2
  ) WHERE rn = 1
)"""

_LPA_ORACLE = _LPA_CTE + """
SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS size,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM l2 GROUP BY lbl
"""


def _lpa_labels(adj: DataFrame) -> DataFrame:
    """The shared 2-round synchronous-LPA kernel: ``(node, lbl)``.

    Every node starts as its own label; each round adopts the most
    frequent neighbor label with a TOTAL tie-break (count DESC, label
    ASC) — the Spark twin of ``_LPA_CTE``, kept in one place for the
    same decoupling reason. The per-round top-1 pick is a ``max_by``
    over the ordering struct ``(c, -lbl)`` — a hash aggregate with
    map-side partials, replacing the earlier row_number window (which
    sorted every (node, lbl) group on every round: 2 full sorts gone).
    """
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(2):
        cnt = (
            adj.join(labels.select(F.col("node").alias("nbr"), "lbl"), "nbr")
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = cnt.groupBy("node").agg(
            F.max_by(
                "lbl", F.struct(F.col("c"), (-F.col("lbl")).alias("nl"))
            ).alias("lbl")
        )
    return labels


@register("graph_label_propagation", oracle=_LPA_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA), two
    unrolled rounds: every node starts as its own label, then each
    round adopts the most frequent label among its neighbors with a
    TOTAL tie-break (count DESC, label ASC) — the tie-break is what
    makes synchronous LPA deterministic and therefore hash-checkable
    (vanilla LPA breaks ties randomly; GraphFrames' own LPA documents
    the same determinism caveat).

    Each round is one join (labels onto the adjacency list, label side
    partitioned by node — the same key every round, so AQE reuses the
    exchange) + one count aggregate + one per-node ``max_by`` top-1
    pick (hash aggregate, no sort — see ``_lpa_labels``), all keyed on
    node: K rounds = K passes over the EDGE list, never more,
    which is the textbook Pregel compilation of LPA onto joins. The
    emitted result is the community histogram (label, size, min member)
    — stable under any round count and orders of magnitude smaller
    than the assignment itself.
    """
    labels = _lpa_labels(_adjacency(spark, sf_dir))
    return labels.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).alias("size"), F.min("node").alias("min_node")
    )


_MODULARITY_ORACLE = _LPA_CTE + f""",
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
intra AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_intra, la.lbl AS lbl
  FROM e JOIN l2 la ON la.node = e.u JOIN l2 lb ON lb.node = e.v
  WHERE la.lbl = lb.lbl GROUP BY la.lbl
),
deg AS (
  SELECT l2.lbl, CAST(COUNT(*) AS BIGINT) AS d_c
  FROM adj JOIN l2 ON l2.node = adj.node GROUP BY l2.lbl
),
terms AS (
  SELECT d.lbl,
         {grid_sql('''(CAST(COALESCE(i.n_intra, 0) AS DOUBLE) / m.m
                     - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
                       * (CAST(d.d_c AS DOUBLE) / (2 * m.m)))''', 12)} AS term_g
  FROM deg d LEFT JOIN intra i ON i.lbl = d.lbl CROSS JOIN m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
       CAST(CAST(SUM(term_g) AS BIGINT) AS DOUBLE) / 1000000000000.0
         AS modularity
FROM terms
"""


@register("graph_modularity", oracle=_MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the `graph_label_propagation` partition:
    Q = Σ_c [e_c/m − (d_c/2m)²] — the objective Louvain climbs,
    computed here as the QUALITY GATE for the LPA communities (a
    partition with Q ≈ 0 is no better than random; the score is what
    tells you whether to keep iterating). Shares the label pipeline
    verbatim, then three integer aggregates: intra-community edge
    counts (labels joined onto both edge endpoints), community degree
    sums, total edges — each per-community term lands on a 1e-12 grid
    before the final sum (the `corpus_kl_divergence` discipline).

    Everything after the LPA rounds is community-keyed (|communities|
    rows); the label join onto edges is the only data-sized pass and
    reuses the node partitioning the rounds already built.
    """
    e = _edges_cached(spark, sf_dir)
    adj = _adjacency(spark, sf_dir)
    labels = _lpa_labels(adj)
    m = e.agg(F.count(F.lit(1)).alias("m"))
    la = labels.select(F.col("node").alias("u"), F.col("lbl").alias("lu"))
    lb = labels.select(F.col("node").alias("v"), F.col("lbl").alias("lv"))
    intra = (
        e.join(la, "u")
        .join(lb, "v")
        .where(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("lbl"))
        .agg(F.count(F.lit(1)).alias("n_intra"))
    )
    deg = (
        adj.join(labels, "node")
        .groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("d_c"))
    )
    frac = F.coalesce(F.col("n_intra"), F.lit(0)).cast("double") / F.col("m")
    half = F.col("d_c").cast("double") / (F.lit(2) * F.col("m"))
    term_g = grid(frac - half * half, 12)
    terms = (
        deg.join(intra, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(term_g.alias("term_g"))
    )
    return terms.agg(
        F.count(F.lit(1)).alias("n_communities"),
        (F.sum("term_g").cast("double") / F.lit(1e12)).alias("modularity"),
    )


@register(
    "graph_assortativity",
    oracle=f"""
WITH {_e_sql()},
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
  GROUP BY node
),
ends AS (
  SELECT du.d AS x, dv.d AS y
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
  UNION ALL
  SELECT dv.d, du.d
  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM ends
)
SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
          * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         AS assortativity
FROM s
""",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity — Newman's r: the Pearson correlation of
    the degrees at the two ends of every edge (positive: hubs link to
    hubs, the social-network signature; negative: hub-and-spoke, the
    internet/dependency-graph signature). Diagnostic sibling of
    `graph_degree_hist`: the histogram says how skewed the degrees
    are, assortativity says how they WIRE.

    Each undirected edge contributes both orientations (the standard
    symmetrized estimator), degrees join onto the edge list from the
    one degree aggregate, and the correlation reuses the
    `stat_corr_matrix` algebra verbatim: five exact integer sums in
    one pass, one closed-form double. Degree products are bounded by
    max-degree² per row — BIGINT-safe far beyond any real graph's
    edge count.
    """
    e = _edges_cached(spark, sf_dir)
    deg = _degrees(_adjacency(spark, sf_dir))
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = e.join(du, "u").join(dv, "v")
    ends = j.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionAll(j.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    s = ends.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select(
        (F.col("n") / F.lit(2)).cast("long").alias("n_edges"),
        (num / den).alias("assortativity"),
    )


@register(
    "graph_local_clustering",
    oracle=f"""
WITH {_e_sql()},
{_adj_sql("nb")},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
tri AS (
  SELECT n1.node, CAST(COUNT(*) AS BIGINT) AS t
  FROM adj n1 JOIN adj n2 ON n1.node = n2.node AND n1.nb < n2.nb
  JOIN e ON e.u = n1.nb AND e.v = n2.nb
  GROUP BY n1.node
),
cc AS (
  SELECT deg.node, deg.d, COALESCE(tri.t, 0) AS t,
         CAST((20 * COALESCE(tri.t, 0)) // (deg.d * (deg.d - 1))
              AS BIGINT) AS cc_bucket
  FROM deg LEFT JOIN tri ON tri.node = deg.node
  WHERE deg.d >= 2
)
SELECT cc_bucket, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(t) AS BIGINT) AS sum_triangles,
       CAST(MIN(d) AS BIGINT) AS min_degree,
       CAST(MAX(d) AS BIGINT) AS max_degree
FROM cc GROUP BY cc_bucket
""",
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient distribution — per node,
    cc(v) = 2·t(v)/(d(d-1)): how much each node's neighborhood is
    itself interconnected (the global coefficient `graph_triangles`
    reports is the wedge-weighted mean of exactly these). Per-node
    triangle counts come from one wedge enumeration (both-neighbors
    pairs per node, canonicalized nb1 < nb2) semi-joined against the
    edge set; the histogram buckets cc on a 0.05 grid via pure
    INTEGER division (20t) div (d(d-1)) — no float can flip a bucket.

    The engine enumerates each triangle ONCE over `graph_triangles`'
    degree-ordered orientation (apex = the corner with two out-edges;
    wedge work bounded O(m^1.5) regardless of hub skew) and credits
    all three corners via a 3-way explode — per-node counts identical
    to the naive per-node wedge scan the ORACLE still runs, so the
    optimization itself is hash-checked (the graph_triangles
    discipline; rewrite measured 18.2 s -> 5.8 s at sf0.1 in the
    BASELINE.md/SCALE.md quiet-run pin — the 3.4 s first reading was a
    warm-cache run, superseded per ADVICE r8). Output is O(21) buckets.
    """
    e = _edges_cached(spark, sf_dir)
    deg = _degrees(_adjacency(spark, sf_dir))
    tri = (
        _triangles(e, deg).select(
            F.explode(F.array("apex", "u", "v")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    cc = (
        deg.join(tri, "node", "left")
        .where(F.col("d") >= 2)
        .select(
            "d",
            F.coalesce(F.col("t"), F.lit(0)).alias("t"),
            F.expr(
                "CAST((20 * coalesce(t, 0)) div (d * (d - 1)) AS BIGINT)"
            ).alias("cc_bucket"),
        )
    )
    return cc.groupBy("cc_bucket").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("t").alias("sum_triangles"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
    )


@register(
    "graph_louvain_move",
    oracle=f"""
WITH {_e_sql()},
{_adj_sql("nb")},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
best AS (
  SELECT a.node, dn.d AS d_i, a.nb, dj.d AS d_j,
         ROW_NUMBER() OVER (PARTITION BY a.node ORDER BY dj.d, a.nb) AS rn
  FROM adj a
  JOIN deg dn ON dn.node = a.node
  JOIN deg dj ON dj.node = a.nb
),
moved AS (
  SELECT b.node,
         CASE WHEN 2 * m.m - b.d_i * b.d_j > 0 THEN b.nb ELSE b.node END
           AS community
  FROM best b CROSS JOIN m
  WHERE b.rn = 1
)
SELECT community, CAST(COUNT(*) AS BIGINT) AS size,
       CAST(MIN(node) AS BIGINT) AS min_node
FROM moved GROUP BY community
""",
)
def graph_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous Louvain MOVE PHASE from the singleton partition —
    the greedy modularity-ascent step underneath every Louvain
    implementation: each node evaluates joining a neighbor's community
    and takes the best positive-gain move. From singletons the gain of
    moving i next to j is ΔQ ∝ 2m − d_i·d_j (unweighted), so BOTH
    decisions are pure integer comparisons: the best neighbor is
    argmin (d_j, j) — gain is decreasing in the neighbor's degree —
    and the move is accepted iff 2m − d_i·d_j > 0. No float enters any
    decision, which is what makes a greedy community move hash-exact
    (`graph_label_propagation` is the frequency-vote sibling;
    `graph_modularity` scores the resulting partitions).

    Plan: degree aggregate, one adjacency⋈degree join, a per-node
    top-1 (rank over bounded neighbor lists), one integer filter — all
    keyed on node, shuffles linear in edges. Further Louvain rounds
    repeat the same shape with community-aggregated degrees; the
    first-phase kernel here is the one that touches data-sized input.
    """
    e = _edges_cached(spark, sf_dir)
    adj = _adjacency(spark, sf_dir)
    deg = _degrees(adj)
    m = e.agg(F.count(F.lit(1)).alias("m"))
    dn = deg.select(F.col("node"), F.col("d").alias("d_i"))
    dj = deg.select(F.col("node").alias("nbr"), F.col("d").alias("d_j"))
    w = Window.partitionBy("node").orderBy("d_j", "nbr")
    best = (
        adj.join(dn, "node")
        .join(dj, "nbr")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
    )
    moved = best.crossJoin(F.broadcast(m)).select(
        "node",
        F.when(
            2 * F.col("m") - F.col("d_i") * F.col("d_j") > 0, F.col("nbr")
        )
        .otherwise(F.col("node"))
        .alias("community"),
    )
    return moved.groupBy("community").agg(
        F.count(F.lit(1)).alias("size"), F.min("node").alias("min_node")
    )


def _adamic_adar(e: DataFrame, deg: DataFrame, centers: DataFrame) -> DataFrame:
    """Adamic–Adar top-50 over the wedges of ``centers`` (an adjacency),
    each weighted by its center's degree in ``deg``."""
    wedge = _wedges(centers)
    term = F.floor(F.lit(1e12) / F.log(F.col("d").cast("double"))).cast("long")
    score = (
        wedge.join(deg, wedge.c == deg.node)
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(term).cast("long").alias("aa_micro"),
        )
    )
    return _top_non_edges(score, e, "aa_micro")


@register(
    "graph_adamic_adar",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
wedge AS (
  SELECT a.node AS c, a.nbr AS x, b.nbr AS y
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
),
score AS (
  SELECT w.x, w.y,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(FLOOR(1e12 / LN(CAST(deg.d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS aa_micro
  FROM wedge w JOIN deg ON deg.node = w.c
  GROUP BY w.x, w.y
)
SELECT s.x, s.y, s.cn, s.aa_micro
FROM score s
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.x AND e.v = s.y)
ORDER BY s.aa_micro DESC, s.x, s.y
LIMIT 50
""",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the strong co-purchase graph:
    for part pairs NOT yet co-purchased, Σ 1/ln(deg(w)) across shared
    neighbors w — common-neighbor counting (`graph_common_neighbors`)
    with hub discounting, the standard refinement: a shared neighbor
    that co-occurs with everything carries little evidence, and the
    1/ln(deg) weight prices that in.

    Same wedge plan as the CN kernel (candidate pairs enumerate only
    through shared centers — never an all-pairs product; the strong-
    edge threshold is the wedge-budget lever at scale), with one extra
    broadcast-sized join: each wedge picks up its CENTER's degree, so
    the weight rides the existing wedge stream — no second pass. Every
    center in a wedge has degree ≥ 2, so ln(d) ≥ ln 2 and the weight
    is finite by construction. The per-wedge 1/ln term is the only
    float; it floors onto the 1e-12 grid BEFORE the per-pair sum
    (ts_spectral_power discipline), so the ranking aggregate, the
    anti-join of known edges, and the (aa, x, y) tie-broken top-50 all
    run on exact longs.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    adj = _adjacency(spark, sf_dir, strong=True)
    return _adamic_adar(e, _degrees(adj), adj)


_AA_CAP = 6


@register(
    "graph_adamic_adar_capped",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, COUNT(*) AS d FROM adj GROUP BY node),
adjc AS (
  SELECT node, nbr FROM (
    SELECT node, nbr,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn
    FROM adj)
  WHERE rn <= 6
),
wedge AS (
  SELECT a.node AS c, a.nbr AS x, b.nbr AS y
  FROM adjc a JOIN adjc b ON a.node = b.node AND a.nbr < b.nbr
),
score AS (
  SELECT w.x, w.y,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(CAST(FLOOR(1e12 / LN(CAST(deg.d AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS aa_micro
  FROM wedge w JOIN deg ON deg.node = w.c
  GROUP BY w.x, w.y
)
SELECT s.x, s.y, s.cn, s.aa_micro
FROM score s
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.x AND e.v = s.y)
ORDER BY s.aa_micro DESC, s.x, s.y
LIMIT 50
""",
)
def graph_adamic_adar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-capped Adamic–Adar (VERDICT r6 watch item 2 made concrete):
    identical semantics to `graph_adamic_adar` except each wedge CENTER
    enumerates at most its ``_AA_CAP`` lowest-id neighbors, so the
    per-center wedge fan-out is bounded by CAP² no matter how hub-heavy
    the graph — the operator a user points a power-law edge set at when
    the uncapped O(Σ deg²) enumeration stops being affordable.

    Design choices that keep it principled rather than ad hoc:
    - the cap bounds ENUMERATION only; the hub-discount weight still
      uses the center's TRUE degree (``deg`` is computed pre-cap), so
      retained wedges score exactly as in the uncapped kernel — capping
      never inflates a score, it can only drop pairs;
    - neighbor retention is deterministic (lowest ``nbr`` ids via one
      row_number window partitioned by center), so reruns and the
      DuckDB oracle agree bit-for-bit — no sampling seed to disagree on;
    - recall effect: a pair is lost only if EVERY shared neighbor ranks
      past the cap in its adjacency list. On this fixture (sf0.01
      degrees: p50 3, p90 7, max 15) the cap=6 run keeps the same
      top-of-ranking mass while cutting hub wedges ~4× at the max
      degree; on a true power-law graph the bound is the difference
      between Σ deg² and |V|·CAP².

    At 100 TB: the row_number window shuffles on the same center key
    the wedge join needs, so the cap costs one sort inside an exchange
    the plan already required; everything downstream (degree ride-along,
    1e-12-grid exact scoring, anti-join, tie-broken top-50) is the
    uncapped plan unchanged.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    adj = _adjacency(spark, sf_dir, strong=True)
    deg = _degrees(adj)
    adjc = (
        adj.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("node").orderBy("nbr")
            ),
        )
        .filter(F.col("rn") <= _AA_CAP)
        .drop("rn")
    )
    return _adamic_adar(e, deg, adjc)


@register(
    "graph_jaccard_similarity",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
wedge AS (
  SELECT a.nbr AS x, b.nbr AS y
  FROM adj a JOIN adj b ON a.node = b.node AND a.nbr < b.nbr
),
cn AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cn FROM wedge GROUP BY x, y
),
score AS (
  SELECT cn.x, cn.y, cn.cn,
         CAST((1000000000000 * cn.cn) // (dx.d + dy.d - cn.cn)
              AS BIGINT) AS jac_micro
  FROM cn
  JOIN deg dx ON dx.node = cn.x
  JOIN deg dy ON dy.node = cn.y
)
SELECT s.x, s.y, s.cn, s.jac_micro
FROM score s
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = s.x AND e.v = s.y)
ORDER BY s.jac_micro DESC, s.x, s.y
LIMIT 50
""",
)
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction — the third rung of the wedge-based
    ladder (`graph_common_neighbors` counts, `graph_adamic_adar`
    hub-discounts, Jaccard NORMALIZES: |Γu ∩ Γv| / |Γu ∪ Γv|, so a
    pair sharing 3 of 4 neighbors outranks a hub pair sharing 3 of
    400). Same non-edge anti-join and tie-broken top-50 as its
    siblings.

    |Γu ∪ Γv| = deg(u) + deg(v) − cn needs the ENDPOINT degrees, not
    the wedge center's: the degree table joins onto the aggregated
    candidate pairs (|pairs| rows, post-aggregation — strictly less
    work than the AA kernel's per-wedge degree ride-along), and the
    score is exact integer: (1e12·cn) div union — no float anywhere,
    so ordering and the oracle hash are stable at any partitioning.
    Scale posture identical to the CN kernel: wedges enumerate only
    through shared centers (`graph_adamic_adar_capped`'s degree cap is
    the drop-in lever if a hub-heavy graph arrives).
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    adj = _adjacency(spark, sf_dir, strong=True)
    deg = _degrees(adj)
    cn = _wedges(adj).groupBy("x", "y").agg(F.count(F.lit(1)).alias("cn"))
    dx, dy = deg.alias("dx"), deg.alias("dy")
    score = (
        cn.join(dx, cn.x == F.col("dx.node"))
        .join(dy, cn.y == F.col("dy.node"))
        .select(
            "x", "y", "cn",
            F.expr("(1000000000000L * cn) div (dx.d + dy.d - cn)")
            .cast("long")
            .alias("jac_micro"),
        )
    )
    return _top_non_edges(score, e, "jac_micro")


def _directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed co-purchase edges ``(u, v)``, distinct: part u precedes
    a different part v on some order (line-number order), so an edge
    and its reverse are separate observations that can disagree across
    orders."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )


#: DuckDB twin of `_directed_edges`.
_DIRECTED_E_SQL = """e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_linenumber < b.l_linenumber
                 AND a.l_partkey != b.l_partkey
)"""


@register(
    "graph_reciprocity",
    oracle=f"""
WITH {_DIRECTED_E_SQL},
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS mutual
  FROM e x JOIN e y ON x.u = y.v AND x.v = y.u
),
t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM e)
SELECT total, mutual,
       CAST(mutual AS DOUBLE) / total AS reciprocity
FROM t CROSS JOIN m
""",
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-graph reciprocity — the fraction of directed edges
    whose reverse edge also exists. The directed edge set orients each
    within-order part pair by line number (u precedes v on the order),
    so unlike the undirected `_edges` table an edge and its reverse
    are distinct observations that can disagree across orders.
    Reciprocity = |{(u,v) : (v,u) ∈ E}| / |E| is an exact integer
    ratio; only the final division is floating point.

    The mutual count is a hash EQUI-join of the edge table with itself
    on the swapped key pair — no cartesian anywhere; at 100 TB it
    shuffles on (u,v) exactly like the triangle join, and the two
    1-row scalars meet in a broadcast. The distinct edge build shares
    its shuffle shape with the rest of the graph family.
    """
    e = _directed_edges(spark, sf_dir)
    x, y = e.alias("x"), e.alias("y")
    mutual = (
        x.join(
            y,
            (F.col("x.u") == F.col("y.v")) & (F.col("x.v") == F.col("y.u")),
        )
        .agg(F.count(F.lit(1)).alias("mutual"))
    )
    total = e.agg(F.count(F.lit(1)).alias("total"))
    return total.crossJoin(F.broadcast(mutual)).select(
        "total",
        "mutual",
        (F.col("mutual").cast("double") / F.col("total")).alias(
            "reciprocity"
        ),
    )


@register(
    "graph_hits_one_round",
    oracle=f"""
WITH {_DIRECTED_E_SQL},
auth1 AS (
  SELECT v AS node, CAST(COUNT(*) AS BIGINT) AS auth FROM e GROUP BY v
),
hub1 AS (
  SELECT e.u AS node, CAST(SUM(a.auth) AS BIGINT) AS hub
  FROM e JOIN auth1 a ON e.v = a.node
  GROUP BY e.u
)
SELECT COALESCE(a.node, h.node) AS node,
       COALESCE(a.auth, 0) AS auth1,
       COALESCE(h.hub, 0) AS hub1
FROM auth1 a FULL OUTER JOIN hub1 h ON a.node = h.node
ORDER BY hub1 DESC, auth1 DESC, node
LIMIT 20
""",
)
def graph_hits_one_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One HITS round (Kleinberg hubs & authorities) over the DIRECTED
    co-purchase graph (edges oriented by line-number order, the
    `graph_reciprocity` edge set): from uniform scores, authority¹ =
    in-degree and hub¹ = Σ authority¹ over successors — both EXACT
    integers, so the round needs no normalization and no float grid to
    hash-match; ranking ties break on the node id. `graph_pagerank_exact`
    is the same one-exact-iteration discipline for the other classic
    link-analysis recurrence.

    Plan: edge build shuffles on orderkey once (wedge join), then two
    hash aggregates and one edge⋈auth join — all keyed on node/edge
    columns with map-side combine; top-20 is TakeOrderedAndProject. At
    100 TB further HITS rounds are the same join+aggregate template
    re-keyed by the previous round's scores (scaled-long lanes once
    normalization enters — the graph_pagerank docstring's rational).
    """
    e = _directed_edges(spark, sf_dir)
    auth1 = e.groupBy(F.col("v").alias("node")).agg(
        F.count(F.lit(1)).alias("auth")
    )
    hub1 = (
        e.join(auth1, e.v == auth1.node)
        .groupBy(F.col("u").alias("hnode"))
        .agg(F.sum("auth").alias("hub"))
    )
    return (
        auth1.join(hub1, auth1.node == hub1.hnode, "full")
        .select(
            F.coalesce(F.col("node"), F.col("hnode")).alias("node"),
            F.coalesce(F.col("auth"), F.lit(0)).alias("auth1"),
            F.coalesce(F.col("hub"), F.lit(0)).alias("hub1"),
        )
        .orderBy(F.col("hub1").desc(), F.col("auth1").desc(), "node")
        .limit(20)
    )


#: graph_triangles_doulion: edge keep-probability p = _DOUL_NUM/16 via
#: one hex digit of the seeded edge md5.
_DOUL_NUM = 5
_DOUL_SEED = "dl2"


@register(
    "graph_triangles_doulion",
    oracle=f"""
WITH {_e_sql()},
kept AS (
  SELECT u, v FROM e
  WHERE {md5_int_sql("CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)"
                     f" || ':{_DOUL_SEED}'", 1, 1)} < {_DOUL_NUM}
),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t
  FROM kept e1 JOIN kept e2 ON e2.u = e1.v
               JOIN kept e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM kept) AS n_kept,
       t AS sampled_triangles,
       {grid_sql(f'CAST(t AS DOUBLE) * 4096.0 / {_DOUL_NUM ** 3}', 0)} AS est_triangles
FROM tri
""",
)
def graph_triangles_doulion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOULION (Tsourakakis et al. 2009): triangle counting by edge
    sparsification — keep each edge with probability p, count triangles
    on the sample, scale by 1/p³. THE technique that takes triangle
    counting from "finishes at 100 TB" (`graph_triangles`' oriented
    wedge join, O(m^1.5)) to "finishes fast": the wedge join runs on a
    p-fraction graph, cutting wedge work by ~p² while the estimator
    stays unbiased with relative error ~1/√(p³·T). The coin is the
    seeded edge-md5 hex digit (p = 5/16), so the SAMPLE ITSELF is
    reproducible across engines/runs — the estimate hash-matches, which
    a true-random sparsifier never could. Estimate lands via exact
    integer scaling (t·4096/125, floor+0.5).

    Plan: edge build + one map-side hash gate + the same banded
    triangle join on the kept subgraph. At 100 TB p becomes the
    accuracy/cost dial; the gate is free (no shuffle).
    """
    e = _edges_cached(spark, sf_dir)
    coin = (
        md5_int(
            F.concat(
                F.col("u").cast("string"),
                F.lit(":"),
                F.col("v").cast("string"),
                F.lit(f":{_DOUL_SEED}"),
            ),
            1,
            1,
            dtype="int",
        )
        < _DOUL_NUM
    )
    kept = e.where(coin)
    e1 = kept.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = kept.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = kept.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"])
        .agg(F.count(F.lit(1)).alias("t"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    n_kept = kept.agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        n_edges.crossJoin(F.broadcast(n_kept))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_kept",
            F.col("t").alias("sampled_triangles"),
            grid(
                F.col("t").cast("double")
                * F.lit(4096.0)
                / F.lit(float(_DOUL_NUM ** 3)),
                0,
            )
            .alias("est_triangles"),
        )
    )


#: deterministic random walks: seed tag, walk count, steps per walk.
_RW_SEED = "rw8"
_RW_SEEDS = 50
_RW_STEPS = 3


@register(
    "graph_random_walks",
    oracle=f"""
WITH {_e_sql(strong=True)},
adj AS (
  SELECT node, nbr,
         ROW_NUMBER() OVER (PARTITION BY node ORDER BY nbr) AS rn,
         COUNT(*) OVER (PARTITION BY node) AS deg
  FROM (SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e)
),
seeds AS (
  SELECT node AS n0 FROM (SELECT DISTINCT node FROM adj)
  ORDER BY node LIMIT {_RW_SEEDS}
),
s1 AS (
  SELECT s.n0, a.nbr AS n1 FROM seeds s
  JOIN adj a ON a.node = s.n0
   AND a.rn = 1 + ({md5_int_sql(f"CAST(s.n0 AS VARCHAR) || ':0:{_RW_SEED}'", 1, 8)} % a.deg)
),
s2 AS (
  SELECT s.n0, s.n1, a.nbr AS n2 FROM s1 s
  JOIN adj a ON a.node = s.n1
   AND a.rn = 1 + ({md5_int_sql(f"CAST(s.n1 AS VARCHAR) || ':1:{_RW_SEED}'", 1, 8)} % a.deg)
),
s3 AS (
  SELECT s.n0, s.n1, s.n2, a.nbr AS n3 FROM s2 s
  JOIN adj a ON a.node = s.n2
   AND a.rn = 1 + ({md5_int_sql(f"CAST(s.n2 AS VARCHAR) || ':2:{_RW_SEED}'", 1, 8)} % a.deg)
)
SELECT n0, n1, n2, n3 FROM s3 ORDER BY n0
""",
)
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the strong co-purchase
    graph — the sequence-generation step of DeepWalk/node2vec-style
    graph embedding: each seed emits a walk whose every hop feeds a
    skip-gram trainer. The RNG is an md5 coin keyed by (current node,
    step, seed tag), so the walk corpus is bit-reproducible across
    engines, runs, and partitionings (the repo-wide hash-coin
    discipline) — which is exactly what an incremental embedding
    refresh needs: unchanged neighborhoods re-emit unchanged walks.

    Each hop is one EQUI-join of the walk frontier against the
    row_number-indexed adjacency (neighbor slot = coin mod degree) —
    walks advance breadth-wise in |steps| joins over the SAME
    shuffle key (node), never a per-walk driver loop. The index is
    built over the session's cached strong adjacency (`_adjacency`).
    At 100 TB: walk count scales with the
    seed table (map-side), steps scale the join chain linearly, and
    hub skew is bounded because the frontier carries one row per walk
    regardless of degree.
    """
    wn = Window.partitionBy("node")
    adj = _adjacency(spark, sf_dir, strong=True).select(
        "node",
        "nbr",
        F.row_number().over(wn.orderBy("nbr")).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("deg"),
    )
    cur = (
        adj.select("node")
        .distinct()
        .orderBy("node")
        .limit(_RW_SEEDS)
        .select(F.col("node").alias("n0"))
    )
    for step in range(_RW_STEPS):
        prev = f"n{step}"
        coin = md5_int(
            F.concat(F.col(prev).cast("string"), F.lit(f":{step}:{_RW_SEED}")), 1, 8
        )
        a = adj.select(
            F.col("node").alias("__node"),
            F.col("nbr").alias(f"n{step + 1}"),
            F.col("rn").alias("__rn"),
            F.col("deg").alias("__deg"),
        )
        cur = cur.join(
            a,
            (F.col(prev) == F.col("__node"))
            & (F.col("__rn") == 1 + coin % F.col("__deg")),
        ).drop("__node", "__rn", "__deg")
    return cur.orderBy("n0")


#: k-truss: K=4 — one peel keeps edges in >= K-2 triangles.
_KTRUSS_K = 4


@register(
    "graph_ktruss_peel",
    oracle=f"""
WITH {_e_sql(strong=True)},
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
sup AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT a AS u, b AS v FROM tri
    UNION ALL SELECT a, c FROM tri
    UNION ALL SELECT b, c FROM tri
  ) GROUP BY u, v
),
es AS (
  SELECT e.u, e.v, COALESCE(s.support, 0) AS support
  FROM e LEFT JOIN sup s ON s.u = e.u AND s.v = e.v
)
SELECT support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CASE WHEN support >= {_KTRUSS_K - 2} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept
FROM es GROUP BY support ORDER BY support
""",
)
def graph_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-truss peel round (K=4): per-edge SUPPORT (triangles the
    edge participates in) via the oriented triangle enumeration, then
    the keep/drop decision support ≥ K−2 — the cohesion filter that is
    strictly stronger than `graph_kcore` (every edge in a k-truss
    joins k−2 triangles, so trusses are the dense "community cores"
    link-analysis pipelines extract before clustering). Full k-truss
    iterates this round to fixpoint (the `dedup_connected_components`
    localCheckpoint loop shape); the registered kernel is the round
    that touches data-sized input, reported as the support histogram.

    Edge support distributes per-triangle: the u<v<w orientation
    enumerates each triangle ONCE through three hash equi-joins of the
    session-cached strong-edge table, then each triangle credits its 3
    edges through a unionAll + one aggregate — never a per-edge
    neighborhood intersection. The final left join backfills
    support=0 edges. All shuffles key on edge endpoints.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    sup = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    es = e.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).alias("support")
    )
    return (
        es.groupBy("support")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.sum(
                F.when(F.col("support") >= _KTRUSS_K - 2, 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("support")
    )


#: harmonic closeness: source count and hop budget.
_HC_SOURCES, _HC_MAX_HOPS = 20, 3


@register(
    "graph_harmonic_closeness",
    oracle=f"""
WITH RECURSIVE {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
srcs AS (
  SELECT node AS src, node FROM deg ORDER BY d DESC, node LIMIT {_HC_SOURCES}
),
{_bfs_sql("srcs", ["src", "node"], _HC_MAX_HOPS)}
SELECT src,
       CAST(SUM(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       CAST(SUM(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       CAST(SUM(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       CAST(SUM(CASE hop WHEN 1 THEN 1000000 WHEN 2 THEN 500000
                         WHEN 3 THEN 333333 ELSE 0 END) AS BIGINT)
         AS harmonic_micro
FROM visited GROUP BY src
ORDER BY src
""",
)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated harmonic closeness centrality for the 20 highest-degree
    hubs: sum of 1/hop over everything within 3 hops — the
    influence-reach score used where exact all-pairs closeness is
    unpayable (harmonic handles disconnected graphs gracefully; the
    hop cap makes the cost |sources| x |3-hop ball| instead of
    all-pairs). Extends `graph_bfs_hops`' frontier expansion with a
    source tag: the frontier carries (src, node) pairs, so one
    distributed loop runs all 20 BFS trees at once, and 1/hop weights
    are EXACT micro integers (1e6, 5e5, 333333) — no float sums
    anywhere.

    100-TB posture: each round shuffles |frontier| x avg-degree rows
    hash-partitioned on node (`_bfs`); the source set is bounded by
    construction (degree-ranked top-20, the id-capped-batch
    discipline).
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    srcs = _hubs(_degrees(adj), _HC_SOURCES)
    visited = _bfs(
        adj, srcs.select(F.col("node").alias("src"), "node"),
        ["src", "node"], _HC_MAX_HOPS,
    )
    w = (
        F.when(F.col("hop") == 1, 1_000_000)
        .when(F.col("hop") == 2, 500_000)
        .when(F.col("hop") == 3, 333_333)
        .otherwise(0)
    )
    return (
        visited.groupBy("src")
        .agg(
            F.sum(F.when(F.col("hop") == 1, 1).otherwise(0)).alias("n1"),
            F.sum(F.when(F.col("hop") == 2, 1).otherwise(0)).alias("n2"),
            F.sum(F.when(F.col("hop") == 3, 1).otherwise(0)).alias("n3"),
            F.sum(w).alias("harmonic_micro"),
        )
        .orderBy("src")
    )


@register(
    "graph_bipartite_projection",
    oracle="""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
pp AS (
  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS w
  FROM cp a JOIN cp b ON a.c = b.c AND a.p < b.p
  GROUP BY 1, 2
)
SELECT pa, pb, w FROM pp
WHERE w >= 2
ORDER BY w DESC, pa, pb
LIMIT 50
""",
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-mode projection of the customer-part bipartite graph: parts
    co-purchased by the same CUSTOMER (across all their orders), edge
    weight = #shared customers — the longer-horizon affinity signal
    `basket_item_pairs` (same single order) can't see, and the raw
    input recommender co-occurrence models train on. The projection is
    the standard wedge enumeration: distinct (customer, part)
    incidences self-joined on the customer, so cost is sum of
    per-customer degree^2 — bounded by entity behavior, not corpus
    size.

    100-TB posture: the distinct pass and the wedge join both shuffle
    hash-partitioned on the customer key; a degree cap on pathological
    hub customers is the documented skew lever (the
    graph_adamic_adar_capped pattern). Output is the weight>=2
    shortlist, fully tie-broken.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    a = cp.select("c", F.col("p").alias("pa"))
    b = cp.select("c", F.col("p").alias("pb"))
    return (
        a.join(b, (a["c"] == b["c"]) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
        .orderBy(F.col("w").desc(), "pa", "pb")
        .limit(50)
    )


@register(
    "graph_katz_bounded",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
w1 AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS w FROM adj GROUP BY node),
w2 AS (
  SELECT adj.node, CAST(SUM(w1.w) AS BIGINT) AS w
  FROM adj JOIN w1 ON adj.nbr = w1.node
  GROUP BY adj.node
),
w3 AS (
  SELECT adj.node, CAST(SUM(w2.w) AS BIGINT) AS w
  FROM adj JOIN w2 ON adj.nbr = w2.node
  GROUP BY adj.node
)
SELECT w1.node,
       w1.w AS walks1, w2.w AS walks2, w3.w AS walks3,
       CAST(100 * w1.w + 10 * w2.w + w3.w AS BIGINT) AS katz_scaled
FROM w1 JOIN w2 ON w1.node = w2.node JOIN w3 ON w1.node = w3.node
ORDER BY katz_scaled DESC, w1.node
LIMIT 30
""",
)
def graph_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated Katz centrality (alpha=0.1, horizon 3): score =
    sum_k alpha^k * (walks of length k ending at v), the
    influence-with-decay measure between degree (horizon 1) and
    `graph_pagerank` (stationary): walk COUNTS, not visit
    probabilities, so hubs reachable by many short paths outrank
    high-degree leaves. With alpha = 1/10 the score is the EXACT
    integer 100*w1 + 10*w2 + w3 — no float enters at all. Each
    horizon is one adjacency-join + hash aggregate against the
    previous walk vector (the frontier-vector algebra `graph_pagerank`
    iterates); 3 shuffles total, all hash-partitioned on the node key.

    100-TB posture: cost is |E| x horizon; hub skew is bounded by the
    strong-edge co-purchase threshold, and the capped-wedge rung's
    degree cap applies unchanged if a hub explodes.
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    w1 = adj.groupBy("node").agg(F.count(F.lit(1)).alias("w"))
    w2 = (
        adj.join(
            w1.select(F.col("node").alias("nbr"), F.col("w").alias("wn")),
            "nbr",
        )
        .groupBy("node")
        .agg(F.sum("wn").alias("w"))
    )
    w3 = (
        adj.join(
            w2.select(F.col("node").alias("nbr"), F.col("w").alias("wn")),
            "nbr",
        )
        .groupBy("node")
        .agg(F.sum("wn").alias("w"))
    )
    return (
        w1.select("node", F.col("w").alias("walks1"))
        .join(w2.select("node", F.col("w").alias("walks2")), "node")
        .join(w3.select("node", F.col("w").alias("walks3")), "node")
        .select(
            "node", "walks1", "walks2", "walks3",
            (
                F.lit(100) * F.col("walks1")
                + F.lit(10) * F.col("walks2")
                + F.col("walks3")
            ).cast("long").alias("katz_scaled"),
        )
        .orderBy(F.col("katz_scaled").desc(), "node")
        .limit(30)
    )


@register(
    "graph_rich_club",
    oracle=f"""
WITH {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
ks AS (SELECT CAST(u AS BIGINT) AS k
       FROM (SELECT unnest([2, 4, 6, 8, 12]) AS u)),
club AS (
  SELECT ks.k, deg.node
  FROM deg JOIN ks ON deg.d > ks.k
),
nk AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY k),
ek AS (
  SELECT ca.k, CAST(COUNT(*) AS BIGINT) AS e_k
  FROM e JOIN club ca ON e.u = ca.node
         JOIN club cb ON e.v = cb.node AND ca.k = cb.k
  GROUP BY ca.k
)
SELECT nk.k, nk.n_k, COALESCE(ek.e_k, 0) AS e_k,
       CASE WHEN nk.n_k >= 2 THEN
         {grid_sql('''2.0 * COALESCE(ek.e_k, 0)
                    / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1))''', 6)}
       ELSE NULL END AS phi_micro
FROM nk LEFT JOIN ek ON nk.k = ek.k
ORDER BY nk.k
""",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient phi(k) = 2*E_k / (N_k*(N_k-1)) at five
    degree thresholds — do the hubs of the co-purchase graph link to
    EACH OTHER more densely than chance (the network-science elite-core
    diagnostic complementing `graph_assortativity`'s single mixing
    number with a per-threshold profile)? The club membership table is
    one degree-threshold theta-join against the 5-row threshold list;
    club-internal edges come from two semi-join-shaped hash joins of
    the edge table against the membership — everything exact integers,
    one double ratio per threshold.

    100-TB posture: degrees are one hash agg; membership is
    |thresholds| x |high-degree nodes| (shrinks as k grows); the edge
    filter joins shuffle on node keys.
    """
    e = _edges_cached(spark, sf_dir, strong=True)
    adj = _adjacency(spark, sf_dir, strong=True)
    deg = _degrees(adj)
    ks = local_frame(spark, [(2,), (4,), (6,), (8,), (12,)], "k BIGINT")
    club = deg.crossJoin(F.broadcast(ks)).where(
        F.col("d") > F.col("k")
    ).select("k", "node")
    nk = club.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    ca = club.select("k", F.col("node").alias("u"))
    cb = club.select("k", F.col("node").alias("v"))
    ek = (
        e.join(ca, "u")
        .join(cb, ["k", "v"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    phi = F.when(
        F.col("n_k") >= 2,
        grid(
            F.lit(2.0) * F.coalesce(F.col("e_k"), F.lit(0))
            / (F.col("n_k").cast("double") * (F.col("n_k") - 1)),
            6,
        ),
    )
    return (
        nk.join(ek, "k", "left")
        .select(
            "k", "n_k",
            F.coalesce(F.col("e_k"), F.lit(0)).alias("e_k"),
            phi.alias("phi_micro"),
        )
        .orderBy("k")
    )


#: graph_betweenness_sampled: source-set size (degree-ranked, the
#: graph_harmonic_closeness discipline). Hop horizon is FIXED at 3 by
#: the unrolled forward/backward passes below.
_BC_SOURCES = 20


@register(
    "graph_betweenness_sampled",
    oracle=f"""
WITH {_e_sql(strong=True, materialized=True)},
adj AS MATERIALIZED (
  SELECT u AS node, v AS nbr FROM e UNION ALL SELECT v, u FROM e
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
srcs AS MATERIALIZED (
  SELECT node FROM deg ORDER BY d DESC, node LIMIT {_BC_SOURCES}
),
d0 AS MATERIALIZED (
  SELECT node AS src, node, CAST(1 AS BIGINT) AS sigma FROM srcs
),
d1 AS MATERIALIZED (
  SELECT d0.src, adj.nbr AS node, CAST(COUNT(*) AS BIGINT) AS sigma
  FROM d0 JOIN adj ON adj.node = d0.node
  WHERE adj.nbr <> d0.src
  GROUP BY 1, 2
),
d2 AS MATERIALIZED (
  SELECT d1.src, adj.nbr AS node, CAST(SUM(d1.sigma) AS BIGINT) AS sigma
  FROM d1 JOIN adj ON adj.node = d1.node
  LEFT JOIN d0 ON d0.src = d1.src AND d0.node = adj.nbr
  LEFT JOIN d1 p ON p.src = d1.src AND p.node = adj.nbr
  WHERE d0.node IS NULL AND p.node IS NULL
  GROUP BY 1, 2
),
d3 AS MATERIALIZED (
  SELECT d2.src, adj.nbr AS node, CAST(SUM(d2.sigma) AS BIGINT) AS sigma
  FROM d2 JOIN adj ON adj.node = d2.node
  LEFT JOIN d0 ON d0.src = d2.src AND d0.node = adj.nbr
  LEFT JOIN d1 ON d1.src = d2.src AND d1.node = adj.nbr
  LEFT JOIN d2 p ON p.src = d2.src AND p.node = adj.nbr
  WHERE d0.node IS NULL AND d1.node IS NULL AND p.node IS NULL
  GROUP BY 1, 2
),
del2 AS MATERIALIZED (
  SELECT v.src, v.node,
         CAST(SUM((v.sigma * 1000000000) // w.sigma) AS BIGINT) AS d_nano
  FROM d2 v
  JOIN adj ON adj.node = v.node
  JOIN d3 w ON w.src = v.src AND w.node = adj.nbr
  GROUP BY 1, 2
),
del1 AS MATERIALIZED (
  SELECT v.src, v.node,
         CAST(SUM((v.sigma * (1000000000 + COALESCE(del2.d_nano, 0)))
                  // w.sigma) AS BIGINT) AS d_nano
  FROM d1 v
  JOIN adj ON adj.node = v.node
  JOIN d2 w ON w.src = v.src AND w.node = adj.nbr
  LEFT JOIN del2 ON del2.src = w.src AND del2.node = w.node
  GROUP BY 1, 2
),
contrib AS (
  SELECT node, d_nano FROM del1
  UNION ALL
  SELECT node, d_nano FROM del2
)
SELECT node, CAST(SUM(d_nano) AS BIGINT) AS betweenness_nano
FROM contrib GROUP BY node
HAVING SUM(d_nano) > 0
ORDER BY betweenness_nano DESC, node
LIMIT 50
""",
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-sampled, hop-3-truncated betweenness centrality (Brandes
    1.0e1 accumulation from the {_BC_SOURCES} highest-degree hubs) — the
    WHO-BROKERS-FLOW centrality the degree/closeness/Katz family can't
    answer: a node scores by the fraction of shortest paths THROUGH
    it. Exact all-pairs Brandes is O(|V||E|) and unpayable at scale;
    pivot sampling (Brandes-Pich 2007) with a hop horizon is the
    standard production estimator, and both truncations are explicit
    constants here.

    Fully INTEGER Brandes: path counts sigma_k(s, v) accumulate as
    exact longs through 3 unrolled frontier joins (the
    graph_harmonic_closeness BFS shape, plus sigma ride-along);
    dependency accumulation runs BACKWARD through the level-(k, k+1)
    predecessor edges with every sigma-ratio gridded to nano by
    TRUNCATING integer division — delta2 = sum over successors of
    (sigma2 * 1e9) div sigma3, delta1 = sum of (sigma1 * (1e9 +
    delta2)) div sigma2 — so no float exists anywhere and no sum
    order can matter. Max-deg ~15 fixture bounds sigma3 <= ~3.4e3 and
    every product <= ~5e13 (overflow ledger).

    100-TB posture: each forward round shuffles |frontier| x
    avg-degree rows hash-partitioned on node; backward rounds join
    level tables of the same size; the source set is bounded by
    construction. Widen accuracy by raising _BC_SOURCES, not by new
    machinery.
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    srcs = _hubs(_degrees(adj), _BC_SOURCES)
    d0 = srcs.select(
        F.col("node").alias("src"), "node", F.lit(1).cast("long").alias("sigma")
    ).localCheckpoint(eager=True)

    def next_level(cur: DataFrame, *visited: DataFrame) -> DataFrame:
        nxt = (
            cur.join(adj, "node")
            .groupBy("src", F.col("nbr").alias("node"))
            .agg(F.sum("sigma").cast("long").alias("sigma"))
        )
        for seen in visited:
            nxt = nxt.join(
                seen.select("src", "node"), ["src", "node"], "left_anti"
            )
        return nxt.localCheckpoint(eager=True)

    d1 = next_level(d0, d0)
    d2 = next_level(d1, d0, d1)
    d3 = next_level(d2, d0, d1, d2)

    def deltas(lower: DataFrame, upper: DataFrame,
               upper_delta: DataFrame | None) -> DataFrame:
        """delta for `lower`-level nodes from their `upper`-level
        successors: sum of (sigma_low * (1e9 + delta_up)) div sigma_up,
        all exact integer arithmetic."""
        up = upper.select(
            F.col("src").alias("s2"),
            F.col("node").alias("wnode"),
            F.col("sigma").alias("wsigma"),
        )
        if upper_delta is not None:
            up = up.join(
                upper_delta.select(
                    F.col("src").alias("s2"),
                    F.col("node").alias("wnode"),
                    "d_nano",
                ),
                ["s2", "wnode"],
                "left",
            ).select(
                "s2", "wnode", "wsigma",
                F.coalesce("d_nano", F.lit(0)).alias("up_nano"),
            )
        else:
            up = up.select(
                "s2", "wnode", "wsigma", F.lit(0).cast("long").alias("up_nano")
            )
        term = F.expr(
            "CAST((sigma * (1000000000 + up_nano)) div wsigma AS BIGINT)"
        )
        return (
            lower.join(adj, "node")
            .join(
                up,
                (F.col("s2") == F.col("src"))
                & (F.col("wnode") == F.col("nbr")),
            )
            .groupBy("src", "node")
            .agg(F.sum(term).cast("long").alias("d_nano"))
        )

    del2 = deltas(d2, d3, None).localCheckpoint(eager=True)
    del1 = deltas(d1, d2, del2)
    contrib = del1.select("node", "d_nano").unionAll(
        del2.select("node", "d_nano")
    )
    return (
        contrib.groupBy("node")
        .agg(F.sum("d_nano").cast("long").alias("betweenness_nano"))
        .where(F.col("betweenness_nano") > 0)
        .orderBy(F.col("betweenness_nano").desc(), "node")
        .limit(50)
    )


#: graph_effective_diameter: BFS source-set size and hop horizon.
_ED_SOURCES, _ED_MAX_HOPS = 20, 4


@register(
    "graph_effective_diameter",
    oracle=f"""
WITH RECURSIVE {_e_sql(strong=True)},
{_adj_sql()},
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
srcs AS (
  SELECT node AS src, node FROM deg ORDER BY d DESC, node LIMIT {_ED_SOURCES}
),
{_bfs_sql("srcs", ["src", "node"], _ED_MAX_HOPS)},
hist AS (
  SELECT CAST(hop AS BIGINT) AS hop, CAST(COUNT(*) AS BIGINT) AS pairs
  FROM visited WHERE hop > 0 GROUP BY hop
),
cum AS (
  SELECT hop, pairs,
         CAST(SUM(pairs) OVER (ORDER BY hop) AS BIGINT) AS cum_pairs,
         CAST(SUM(pairs) OVER () AS BIGINT) AS total_pairs
  FROM hist
)
SELECT (SELECT CAST(MIN(hop) AS BIGINT) FROM cum
        WHERE cum_pairs * 10 >= total_pairs * 9) AS effective_diameter_90,
       hop, pairs, cum_pairs, total_pairs
FROM cum ORDER BY hop
""",
)
def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective diameter (90th-percentile pairwise hop distance) from
    the 20 highest-degree hubs within a 4-hop horizon — the
    HOW-SMALL-IS-THE-WORLD summary that turns `graph_bfs_hops`'
    frontier machinery into the single number papers quote (ANF /
    HyperANF's exact-on-sampled-sources form; both truncations are
    explicit constants). Returns the full hop histogram alongside the
    quantile so the hash pins the whole neighborhood-function curve,
    not just the scalar: eff-diam-90 = the smallest hop whose
    cumulative pair count clears 90% of reached pairs — computed with
    the integer cross-multiply cum*10 >= total*9, no float.

    100-TB posture: the multi-source BFS shuffles |frontier| x
    avg-degree rows per round (the graph_harmonic_closeness shape);
    the histogram and quantile run on <= _ED_MAX_HOPS rows. Widen
    accuracy by raising _ED_SOURCES (ANF swaps the exact visited sets
    for HLL registers at extreme scale — `agg_hll_sketch` is that
    building block).
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    srcs = _hubs(_degrees(adj), _ED_SOURCES)
    visited = _bfs(
        adj, srcs.select(F.col("node").alias("src"), "node"),
        ["src", "node"], _ED_MAX_HOPS,
    )
    hist = (
        visited.where(F.col("hop") > 0)
        .groupBy(F.col("hop").cast("long").alias("hop"))
        .agg(F.count(F.lit(1)).cast("long").alias("pairs"))
    )
    wcum = Window.orderBy("hop").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "hop", "pairs",
        F.sum("pairs").over(wcum).cast("long").alias("cum_pairs"),
        F.sum("pairs").over(Window.partitionBy()).cast("long")
        .alias("total_pairs"),
    )
    ed = cum.where(
        F.col("cum_pairs") * 10 >= F.col("total_pairs") * 9
    ).agg(F.min("hop").cast("long").alias("effective_diameter_90"))
    return (
        cum.crossJoin(F.broadcast(ed))
        .select(
            "effective_diameter_90", "hop", "pairs", "cum_pairs",
            "total_pairs",
        )
        .orderBy("hop")
    )


#: bounded-hop weighted SSSP: relaxation rounds (= max path edges).
_SSSP_MAX_HOPS = 3


@register(
    "graph_sssp_bounded",
    oracle=f"""
WITH RECURSIVE e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v,
         1000 // COUNT(*) AS cost
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
adj AS (SELECT u AS node, v AS nbr, cost FROM e
        UNION ALL SELECT v, u, cost FROM e),
seeds AS (
  SELECT DISTINCT node FROM adj
  JOIN part ON p_partkey = node
  WHERE p_size = 50
),
walk AS (
  SELECT node, 0 AS hop, CAST(0 AS BIGINT) AS cost FROM seeds
  UNION
  SELECT adj.nbr AS node, walk.hop + 1 AS hop,
         CAST(walk.cost + adj.cost AS BIGINT) AS cost
  FROM walk JOIN adj ON adj.node = walk.node
  WHERE walk.hop < {_SSSP_MAX_HOPS}
)
SELECT node, CAST(MIN(cost) AS BIGINT) AS best_cost
FROM walk GROUP BY node ORDER BY node
""",
)
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source(-set) shortest paths, bounded at
    _SSSP_MAX_HOPS = 3 relaxation rounds — Bellman-Ford, the weighted upgrade of
    `graph_bfs_hops` (closeness in a similarity-weighted graph, not
    raw hop count): edge cost = 1000 // co-purchase-count, so strong
    ties are cheap to cross, and dist(node) = the cheapest <= 3-edge
    path from the size-50 seed set. Costs are exact positive integers
    (one truncating division both engines agree on), so every round's
    per-node MIN and the final table are int64-exact.

    Spark side: textbook distributed Bellman-Ford — each round joins
    the CURRENT distance table against the adjacency, unions the
    relaxed candidates, and takes one per-node MIN (map-side
    combinable); ``localCheckpoint`` truncates lineage per round.
    Unlike the BFS frontier, a node can IMPROVE after first discovery
    (a 2-hop cheap path can beat a 1-hop expensive edge — the fixture
    contains such nodes), so the loop keeps the full distance table —
    the price of weights, and why this is a separate kernel. The
    DuckDB oracle explores the bounded path space declaratively with a
    recursive CTE and takes the same MIN — two genuinely independent
    algorithms.

    100-TB posture: R rounds = R shuffles keyed on the node id, each
    carrying |dist| + |dist ⋈ adj| rows; the distance table stays
    partitioned by node, the adjacency is the session's shared
    strong-edge artifact (`_adjacency`, whose pair count ``w`` gives the
    cost). Overflow: costs <= 500 per
    edge, <= 1500 per path — trivial.
    """
    adj = _adjacency(spark, sf_dir, strong=True)
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") == 50)
    dist = (
        adj.select("node")
        .distinct()
        .join(p, F.col("node") == p.p_partkey, "left_semi")
        .select("node", F.lit(0).cast("long").alias("best_cost"))
        .localCheckpoint(eager=True)
    )
    for _ in range(_SSSP_MAX_HOPS):
        relaxed = (
            dist.join(adj, "node")
            .select(
                F.col("nbr").alias("node"),
                (F.col("best_cost") + F.expr("1000 div w")).alias("best_cost"),
            )
        )
        dist = (
            dist.unionAll(relaxed)
            .groupBy("node")
            .agg(F.min("best_cost").alias("best_cost"))
            .localCheckpoint(eager=True)
        )
    return dist.orderBy("node")
