"""Graph analytics over relational edges (Pregel-shaped, DataFrame-native).

Beyond-reference capability, sibling of ``dd_components`` (label
propagation): iterative fixed-iteration PageRank over the customer↔supplier
interaction graph that ``orders ⋈ lineitem`` induces — the standard
"which entities anchor the network" signal (supplier criticality, customer
centrality) every procurement-analytics stack computes.

Determinism across engines is the hard part of an oracle-checked PageRank:
double summation is addition-order-dependent, so a float PageRank can NEVER
hash-match a second engine reliably. This implementation runs the entire
recurrence in 64-bit FIXED-POINT integer arithmetic (picounits of rank,
``_PR_SCALE = 1e12``): every per-edge contribution is an integer division,
every combine is an exact integer sum (order-independent), and the damping
step is ``(17 * s) div 20``. DuckDB replays the identical integer
recurrence, so the comparison is exact — no tolerance, no rounding games.
Quantization error is ≤ deg(v) picounits per node per iteration — ~1e-9
relative, far below anything a ranking consumer can observe.

Scale shape (100 TB): the classic Pregel-on-DataFrames loop —

- edge list built once: distinct (custkey, suppkey) pairs, shuffled on the
  join key by the build, then persisted through the bounded registry and
  re-read by every iteration (one build, k reads);
- per iteration: join contributions to edges on ``src`` (one shuffle),
  aggregate on ``dst`` with partial (map-side) combine (second shuffle,
  bounded by distinct dst per partition);
- node count N enters as a ONE-ROW aggregate cross-joined in (the same
  constant-cost scalar shape as TPC-H Q11/Q22 — allow-listed in the plan
  sweep);
- iteration count is FIXED (3), so the lineage stays shallow; a
  convergence-driven variant would checkpoint every ~5 rounds to cut
  lineage, exactly as ``dd_components`` documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ._cache import derived
from .common import t

_PR_SCALE = 1_000_000_000_000  # picounits: rank 1.0 == 1e12
_PR_ITERS = 3
_PR_TOP_K = 50
# damping 0.85 as the exact rational 17/20 — both engines apply it as
# integer multiply-then-div, so no float enters the recurrence
_PR_D_NUM, _PR_D_DEN = 17, 20
# rank to 9 places by integer half-up rounding of the exact rank_pico (one
# unit of the 9th place is 1000 picounits); a double round(rq / 1e12, 9)
# breaks a ...500 tie differently in Spark and DuckDB
_PR_RANK = "CAST((rq + 500) {div} 1000 AS DOUBLE) / 1e9"


_TRADE = ("orders", "lineitem")  # fixtures of the customer-supplier trade graphs
_LINEITEM = ("lineitem",)  # the co-supply graph's fixture


def g_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PageRank over the undirected customer↔supplier graph
    (distinct trade pairs from orders ⋈ lineitem), 3 fixed-point
    iterations. Node ids pack type+key into one long (customer = 2k,
    supplier = 2k+1) so the shuffle key is 8 bytes; output unpacks them."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    pairs = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .distinct()
    )
    edges = derived(
        "g_pagerank_edges",
        sf_dir,
        _TRADE,
        lambda: pairs.select(F.col("c_node").alias("src"), F.col("s_node").alias("dst"))
        .unionAll(
            pairs.select(F.col("s_node").alias("src"), F.col("c_node").alias("dst"))
        )
        .repartition("src"),
    )
    deg = derived(
        "g_pagerank_deg",
        sf_dir,
        _TRADE,
        lambda: edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        ),
    )
    n = F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes")))

    # teleport_q = (3 * SCALE) div (20 * N): exact in both engines
    ranks = deg.crossJoin(n).select(
        "node",
        "deg",
        "n_nodes",
        F.expr(f"({_PR_SCALE}L div n_nodes)").alias("rq"),
    )
    for _ in range(_PR_ITERS):
        contrib = ranks.select(
            F.col("node").alias("src"), F.expr("rq div deg").alias("contrib")
        )
        incoming = (
            edges.join(contrib, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            deg.join(incoming, "node")
            .crossJoin(n)
            .select(
                "node",
                "deg",
                "n_nodes",
                (
                    F.expr(f"({3 * _PR_SCALE}L div ({_PR_D_DEN} * n_nodes))")
                    + F.expr(f"({_PR_D_NUM} * s) div {_PR_D_DEN}")
                ).alias("rq"),
            )
        )
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("entity_key"),
            F.col("deg").alias("degree"),
            F.col("rq").alias("rank_pico"),
            F.expr(_PR_RANK.format(div="div")).alias("rank"),
        )
        .orderBy(F.desc("rank_pico"), F.asc("node_type"), F.asc("entity_key"))
        .limit(_PR_TOP_K)
    )


def _pagerank_oracle_sql() -> str:
    s, dn, dd = _PR_SCALE, _PR_D_NUM, _PR_D_DEN
    it = """
        r{i} AS (
            SELECT d.node, d.deg,
                   (3 * {s}) // ({dd} * n.n)
                   + ({dn} * sum(r.rq // r.deg)) // {dd} AS rq
            FROM deg d
            JOIN edges e ON e.dst = d.node
            JOIN r{p} r ON r.node = e.src
            CROSS JOIN n
            GROUP BY d.node, d.deg, n.n
        )"""
    iters = ",".join(
        it.format(i=i, p=i - 1, s=s, dn=dn, dd=dd) for i in range(1, _PR_ITERS + 1)
    )
    return f"""
        WITH pairs AS (
            SELECT DISTINCT o_custkey * 2 AS c_node, l_suppkey * 2 + 1 AS s_node
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS (
            SELECT c_node AS src, s_node AS dst FROM pairs
            UNION ALL
            SELECT s_node AS src, c_node AS dst FROM pairs
        ), deg AS (
            SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
        ), n AS (
            SELECT count(*) AS n FROM deg
        ), r0 AS (
            SELECT node, deg, {s} // n.n AS rq FROM deg CROSS JOIN n
        ),{iters}
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               node // 2 AS entity_key,
               CAST(deg AS BIGINT) AS degree,
               CAST(rq AS BIGINT) AS rank_pico,
               {_PR_RANK.format(div='//')} AS rank
        FROM r{_PR_ITERS}
        ORDER BY rank_pico DESC, node_type ASC, entity_key ASC
        LIMIT {_PR_TOP_K}
    """


# --------------------------------------------------------- triangle count

# Co-supply edge rule, DENSITY-TARGETED rather than a fixed weight: a fixed
# "pairs sharing >= 5 orders" threshold saturates at small SF (at sf0.01
# every supplier pair clears 5 shared orders — the graph is COMPLETE, so
# embeddedness/clustering/assortativity verify clique arithmetic, not
# topology) and over-sparsifies at large SF. Instead: candidate pairs share
# >= _COSUPPLY_W_FLOOR orders, and the edge set is the heaviest ~1/DECILE
# of candidates — the weight at descending rank ceil(n/10) is the cut
# (ties at the cut stay in). Measured densities: 0.11 (sf0.001), 0.13
# (sf0.01), 0.096 (sf0.1 — where the rule reproduces the old w>=5 graph
# exactly). Deterministic: pure integer rank arithmetic over the bounded
# weight histogram, replayed verbatim by the oracle CTEs.
_COSUPPLY_W_FLOOR = 2
_COSUPPLY_DECILE = 10
_TRI_TOP_K = 25

# shared oracle CTE chain ending in `cos_edges(u, v)` — every co-supply
# oracle composes this so the Spark rule and the SQL rule can never drift
_COSUPPLY_CTES = f"""
    os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
    pw AS (
        SELECT a.sk AS u, b.sk AS v, CAST(count(*) AS BIGINT) AS w
        FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
        GROUP BY 1, 2 HAVING count(*) >= {_COSUPPLY_W_FLOOR}
    ),
    wh AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pw GROUP BY w),
    wc AS (SELECT w, sum(c) OVER (ORDER BY w DESC) AS cum FROM wh),
    pn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pw),
    th AS (
        SELECT max(w) AS min_w FROM wc, pn
        WHERE cum >= (n + {_COSUPPLY_DECILE - 1}) // {_COSUPPLY_DECILE}
    ),
    cos_edges AS (SELECT u, v FROM pw, th WHERE w >= min_w)
"""


def triangle_participation(edges: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    (``u`` < ``v``, no duplicates) — the degree-ordered triangle algorithm
    (the MapReduce classic): each edge is ORIENTED from its lower-(deg, id)
    endpoint to its higher one, making a DAG where max out-degree is
    O(sqrt(m)) regardless of how skewed the raw degree distribution is —
    so the wedge self-join (the quadratic step) is bounded by
    sum C(outdeg, 2) = O(m^1.5), never deg^2 of a hub node. Wedges close
    against the oriented edge list on (b, c) — rank(b) < rank(c) by wedge
    construction matches the orientation invariant, so each triangle is
    produced exactly once. Counting is pure integer arithmetic: exact,
    order-independent, engine-identical. Returns (node, n_triangles);
    nodes in no triangle are absent.

    The caller should persist ``edges`` — it feeds the degree rollup, the
    orientation join, both wedge legs, and the closing join. The degree
    table carries NO broadcast hint: it has one row per graph NODE, which
    grows with the data (billions at full scale) — a baked-in hint would
    OOM the driver. The joins are equi-keyed on u/v, so AQE picks
    broadcast on its own whenever the degree table is genuinely small.

    ``sf_dir`` (the fixture the co-supply edges come from) persists the
    ORIENTED edge frame as derived state of it: it is O(m) (one row per
    edge, three ints) and feeds three consumers in the plan (both wedge legs and the closing join), each of
    which would otherwise re-derive the degree rollup + orientation joins
    — at fixture scale that re-derivation is 2–3 extra shuffle-stage
    waves per run (measured ~1.7 s/wave on a loaded 32-core box), and at
    100 TB it is two redundant O(m) shuffles. Same persist-the-shared-
    producer rationale as the edges contract above; tests over ad-hoc
    frames pass no ``sf_dir`` and keep the uncached plan."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = edges.join(
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
        "u",
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
        "v",
    )
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        # rank of dst — the wedge join orders its two legs by it
        F.when(u_lower, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    if sf_dir is not None:
        oriented = derived("g_tri_oriented", sf_dir, _LINEITEM, lambda: oriented)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.src") == F.col("e2.src"))
        .filter(
            (F.col("e1.dd") < F.col("e2.dd"))
            | ((F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.dst") < F.col("e2.dst")))
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_triples(edges: DataFrame) -> DataFrame:
    """The (a, b, c) triangle list behind ``triangle_participation`` —
    same degree-ordered O(m^1.5) wedge machinery, exposed for per-EDGE
    consumers (embeddedness). Vertices come out in orientation order, not
    id order."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = edges.join(
        # no broadcast hint: deg is node-cardinality (see
        # triangle_participation) — AQE broadcasts when genuinely small
        deg.select(F.col("node").alias("u"), F.col("deg").alias("du")),
        "u",
    ).join(
        deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")),
        "v",
    )
    u_lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_lower, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_lower, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_lower, F.col("dv")).otherwise(F.col("du")).alias("dd"),
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = (
        e1.join(e2, F.col("e1.src") == F.col("e2.src"))
        .filter(
            (F.col("e1.dd") < F.col("e2.dd"))
            | ((F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.dst") < F.col("e2.dst")))
        )
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    return wedges.join(
        oriented.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    )


def g_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge embeddedness over the co-supply graph: triangles THROUGH each
    edge = the common-neighbor count of its endpoints — Granovetter's
    weak-tie detector (embeddedness 0: a bridge between otherwise
    unconnected regions; high: deep inside a cluster). The per-edge
    sibling of g_triangle_count's per-node view, and the signal community
    pipelines use to cut inter-cluster edges before partitioning.

    Determinism: each triangle contributes exactly 1 to each of its three
    canonicalized (least, greatest) edges; pure integer counting. Scale
    shape: the O(m^1.5) degree-ordered triple list exploded 3× and
    partial-aggregated on the edge key, then one left join back to the
    edge list (zero-embedded edges must still appear)."""
    edges = _cosupply_edges(spark, sf_dir)
    tri = triangle_triples(edges)
    pair = lambda x, y: F.struct(  # noqa: E731
        F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
    )
    per_edge = (
        tri.select(
            F.explode(
                F.array(
                    pair(F.col("a"), F.col("b")),
                    pair(F.col("a"), F.col("c")),
                    pair(F.col("b"), F.col("c")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("embeddedness"))
    )
    return (
        edges.join(per_edge, ["u", "v"], "left_outer")
        .fillna(0, ["embeddedness"])
        .select(
            "u",
            "v",
            F.col("embeddedness").cast("long").alias("embeddedness"),
            (F.col("embeddedness") == 0).alias("weak_tie"),
        )
    )


def _cosupply_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted candidate pairs (u < v, w = shared orders, w >= floor).
    The per-order pair fan-out is bounded by items-per-order (TPC-H-ish:
    <= 7 → <= 21 pairs per order).

    Shape: ONE shuffle groups each order's distinct suppliers into a
    sorted array (collect_set dedups (ok, sk) in the same pass — no
    separate distinct), the i<j pairs are emitted narrowly in-array (the
    ``_bucket_pairs`` recipe), and the pair rollup is the second shuffle.
    The previous distinct + self-join + rollup form paid three shuffles
    and scanned the distinct frame twice for the identical pair
    multiset."""
    li = t(spark, sf_dir, "lineitem")
    per_order = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("sks"))
        .filter(F.size("sks") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            "sks",
            lambda x, i: F.transform(
                F.slice("sks", i + 2, F.size("sks")),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        per_order.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _COSUPPLY_W_FLOOR)
    )


def _cosupply_cut(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """The persisted candidate-pair frame and its weight cut: the
    heaviest ~1/``_COSUPPLY_DECILE`` of candidate pairs by shared-order
    weight (density-targeted — see the rule comment above).

    The cut comes from the pair-weight HISTOGRAM — one partial agg whose
    output is bounded by the number of DISTINCT weights (small ints, a few
    hundred values at any scale), collected driver-side and walked with
    the same integer rank arithmetic the oracle's window CTE uses. Both
    are derived state of the lineitem fixture (the pair frame feeds the
    histogram and the edge filter)."""
    pw = derived(
        "g_cosupply_pw", sf_dir, _LINEITEM, lambda: _cosupply_pairs(spark, sf_dir)
    )

    def weight_cut() -> int:
        hist = sorted(
            pw.groupBy("w").agg(F.count(F.lit(1)).alias("c")).collect(),
            key=lambda r: -r.w,
        )
        n = sum(r.c for r in hist)
        rank = (n + _COSUPPLY_DECILE - 1) // _COSUPPLY_DECILE
        cum = 0
        for r in hist:
            cum += r.c
            if cum >= rank:
                return int(r.w)
        return _COSUPPLY_W_FLOOR

    return pw, derived("g_cosupply_min_w", sf_dir, _LINEITEM, weight_cut)


def _cosupply_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected supplier co-supply edge list (u < v, distinct): the
    pairs at or above ``_cosupply_cut``'s weight cut. Shared (ONE registry
    kind) by the triangle, k-core, LPA, and assortativity operators so a
    session computes the pair fan-out once."""
    pw, min_w = _cosupply_cut(spark, sf_dir)
    return derived(
        "g_cosupply_edges",
        sf_dir,
        _LINEITEM,
        lambda: pw.filter(F.col("w") >= min_w).select("u", "v"),
    )


def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier triangle participation in the supplier co-supply graph
    (density-targeted edges — the heaviest decile of co-supply pairs), top
    25 — the standard clustering/community-density signal (a supplier in
    many triangles sits inside a tight supply cluster; bridge suppliers
    sit in few). Algorithm + scale shape: ``triangle_participation``
    (degree-ordered, O(m^1.5) wedge bound; pinned on known graphs in
    ``tests/test_graph.py``)."""
    edges = _cosupply_edges(spark, sf_dir)
    return (
        triangle_participation(edges, sf_dir)
        .select(F.col("node").alias("s_suppkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), F.asc("s_suppkey"))
        .limit(_TRI_TOP_K)
    )


_TRI_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM cos_edges e1
        JOIN cos_edges e2 ON e2.u = e1.v
        JOIN cos_edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    nodes AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY node
    ORDER BY n_triangles DESC, s_suppkey ASC
    LIMIT {_TRI_TOP_K}
"""


def g_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the co-supply graph: per node,
    2·triangles / (deg·(deg−1)) — the "how clique-like is this node's
    neighborhood" score community pipelines read next to triangle counts
    (coefficient ≈ 1: tight cluster; ≈ 0: star hub). Degree-1 nodes have
    no defined coefficient (NULL). Top 25 by (coefficient, node) so the
    output is a stable ranked report.

    Determinism: triangles and degrees are exact integers from the shared
    ``triangle_participation`` / degree aggregations; the coefficient is
    ONE double division rounded at the edge. Scale shape: the wedge join
    is the O(m^1.5) degree-ordered bound; degrees are one partial agg;
    the final join keys on node."""
    edges = _cosupply_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_participation(edges, sf_dir)
    joined = deg.join(tri, "node", "left_outer").fillna(0, ["n_triangles"])
    coeff = F.when(
        F.col("degree") >= 2,
        F.round(
            (2 * F.col("n_triangles"))
            / (F.col("degree") * (F.col("degree") - 1)),
            6,
        ),
    )
    return (
        joined.select(
            F.col("node").alias("s_suppkey"),
            "degree",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            coeff.alias("clustering"),
        )
        # explicit NULLS LAST: Spark's desc default and DuckDB's
        # default_null_order happen to agree, but don't rely on it
        .orderBy(F.col("clustering").desc_nulls_last(), F.asc("s_suppkey"))
        .limit(_TRI_TOP_K)
    )


_LPA_ITERS = 3


def label_propagation(
    edges: DataFrame, iters: int = _LPA_ITERS, sf_dir: str | None = None
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007) with a DETERMINISTIC update: labels start as node ids; each
    round every node adopts the label most frequent among its neighbors,
    ties to the SMALLEST label (the max-struct (count, -label) trick —
    engine-identical, no hash ordering). A fixed iteration count keeps the
    synchronous update replayable (convergence-driven LPA is run-order
    dependent); real deployments run ~5 rounds — labels stabilize fast.

    Scale shape: the textbook Pregel loop — per round one join of labels
    to the (undirected, so doubled) edge list on the neighbor key and one
    partial-aggregated (node, label) count; state is one row per node.
    Lineage stays shallow at fixed iters (checkpoint every ~5 rounds
    otherwise, as dd_components documents). Returns (node, label).

    ``sf_dir`` (the fixture the co-supply edges come from) persists the
    FINAL label frame as derived state of it (the ``g_tri_oriented``
    recipe): the labels feed multiple
    downstream consumers (``g_label_propagation``'s size rollup AND
    ``g_modularity``'s three aggregates — 2 joins + a degree rollup),
    and without the cache each one re-runs the whole 3-round Pregel loop
    (~3 s at bench scale, per consumer)."""
    both = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    ).unionAll(edges.select(F.col("v").alias("src"), F.col("u").alias("dst")))
    labels = both.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    for _ in range(iters):
        votes = (
            both.join(
                labels.select(F.col("node").alias("src"), "label"), "src"
            )
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = votes.groupBy("node").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))[
                "neg"
            ].alias("label")
        ).select("node", (-F.col("label")).alias("label"))
    if sf_dir is not None:
        labels = derived("g_lpa_labels", sf_dir, _LINEITEM, lambda: labels)
    return labels


def g_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes in the supplier co-supply graph (same density-
    targeted edges as g_triangle_count, via the shared ``_cosupply_edges``
    cache) after 3 deterministic LPA rounds — the supplier-cluster map
    (which vendors form tight co-supply blocs). Output: one row per
    community (labeled by its smallest member id via the tie rule) with
    member count, size-desc."""
    edges = _cosupply_edges(spark, sf_dir)
    return (
        label_propagation(edges, sf_dir=sf_dir)
        .groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
    )


_LPA_ORACLE_STEP = """
    SELECT node, label FROM (
        SELECT v.node, v.label,
               row_number() OVER (PARTITION BY v.node
                                  ORDER BY v.cnt DESC, v.label ASC) AS rn
        FROM (
            SELECT e.dst AS node, l.label, count(*) AS cnt
            FROM bi e JOIN {prev} l ON l.node = e.src
            GROUP BY 1, 2
        ) v
    ) WHERE rn = 1
"""


def _lpa_oracle_sql() -> str:
    steps = ", ".join(
        f"l{k} AS ({_LPA_ORACLE_STEP.format(prev=('l0' if k == 1 else f'l{k - 1}'))})"
        for k in range(1, _LPA_ITERS + 1)
    )
    return f"""
        WITH {_COSUPPLY_CTES},
        bi AS (
            SELECT u AS src, v AS dst FROM cos_edges
            UNION ALL SELECT v, u FROM cos_edges
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM bi),
        {steps}
        SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
        FROM l{_LPA_ITERS} GROUP BY label
        ORDER BY n_members DESC, community ASC
    """


_KCORE_K = 3
# Oracle unroll depth: the SQL replays this many synchronous peels. Peeling
# is monotone and idempotent at the fixpoint, so any unroll >= the rounds
# the FIXTURE needs yields the exact k-core (extra rounds are no-op
# filters); the Spark side iterates to the true fixpoint regardless.
_KCORE_ROUNDS = 5
# Runaway bound for the fixpoint loop — a graph can cascade one node per
# round (a pendant path), so convergence depth is data-dependent; the cap
# only guards against a pathological/never-shrinking loop, not semantics.
_KCORE_MAX_ROUNDS = 64


#: rounds the most recent ``kcore_peel`` ran before its no-change round —
#: observability for the oracle-unroll contract (see ``g_kcore``).
_KCORE_LAST_ROUNDS = 0


def kcore_peel(edges: DataFrame, k: int, max_rounds: int = _KCORE_MAX_ROUNDS) -> DataFrame:
    """k-core peeling to the FIXPOINT: each round removes every node whose
    CURRENT degree is below ``k`` (and the edges touching it), the
    synchronous variant of the classic k-core decomposition, and the loop
    stops when a round removes nothing (edges only ever shrink, so an
    unchanged edge COUNT is an unchanged edge SET — one cheap count per
    round, against the already-materialized checkpoint blocks). A fixed
    round count was wrong at scale: a pendant path peels exactly one node
    per round, so the rounds a graph needs grow with its cascade depth,
    not a constant. Returns surviving ``(node, degree)``.

    Scale shape: per round one degree aggregation (partial-agg on the
    endpoint) + two semi-joins filtering the edge list — the same
    join-per-iteration Pregel shape as label propagation. Each round's
    edge list is ``localCheckpoint``-materialized (the dd_components
    rule): every round references its predecessor THREE times (degree
    union twice + the semi-join filters), so an unmaterialized lineage
    re-expands 3^rounds ways — at 100 TB the identical dataflow runs
    with a reliable checkpoint dir instead."""
    global _KCORE_LAST_ROUNDS
    edges = edges.localCheckpoint()
    n_edges = edges.count()
    rounds = 0
    for _ in range(max_rounds):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        edges = (
            edges.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint()
        )
        n_next = edges.count()
        if n_next == n_edges:
            break
        rounds += 1
        n_edges = n_next
    _KCORE_LAST_ROUNDS = rounds
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the supplier co-supply graph (same density-targeted edges
    as g_triangle_count), peeled to the fixpoint — the dense-backbone
    extraction every graph-curation pipeline runs (nodes outside the core
    are peripheral; the core is where community/triangle structure
    lives).

    Oracle contract: the DuckDB side unrolls exactly ``_KCORE_ROUNDS``
    synchronous peels; extra rounds past convergence are no-ops, so the
    two agree IFF the fixture converges within that depth. That is a
    data-dependent property (a pendant path peels one node per round), so
    rather than silently diverge on a deeper-cascading corpus this RAISES
    when the fixpoint needed more peels than the oracle replays —
    instructing the operator to raise ``_KCORE_ROUNDS``."""
    edges = _cosupply_edges(spark, sf_dir)
    out = kcore_peel(edges, _KCORE_K).select(
        F.col("node").alias("s_suppkey"), "degree"
    )
    if _KCORE_LAST_ROUNDS > _KCORE_ROUNDS:
        raise RuntimeError(
            f"g_kcore fixpoint needed {_KCORE_LAST_ROUNDS} peel rounds but the "
            f"DuckDB oracle unrolls only {_KCORE_ROUNDS}; raise _KCORE_ROUNDS "
            "to at least the fixture's cascade depth"
        )
    return out


def g_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier co-supply graph (Newman 2002):
    the Pearson correlation of endpoint degrees over the edge list —
    positive means hubs link to hubs (resilient core), negative means
    hub-and-spoke (fragile star topology). The one-number topology
    diagnostic read before trusting community or centrality output.

    Determinism (the a_correlation rule): the sufficient statistics
    Σ(du+dv), Σ(du²+dv²), Σ du·dv are EXACT decimal sums of integer
    degrees — order-independent — and r is one fixed-shape double
    expression over them, rounded at the edge (NULL for a degree-regular
    graph, where the variance term is zero). Scale shape: one degree
    aggregation, two vocabulary-ish joins back to edges (degree table ~
    node count), one single-row aggregate."""
    edges = _cosupply_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    paired = edges.join(du, "u").join(dv, "v")
    stats = paired.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("du") + F.col("dv")).cast("decimal(38,0)")).alias("s1"),
        F.sum(
            (
                F.col("du") * F.col("du") + F.col("dv") * F.col("dv")
            ).cast("decimal(38,0)")
        ).alias("s2"),
        F.sum((F.col("du") * F.col("dv")).cast("decimal(38,0)")).alias("p"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    mu = F.col("s1").cast("double") / (2 * F.col("m"))
    num = F.col("p").cast("double") / F.col("m") - mu * mu
    den = F.col("s2").cast("double") / (2 * F.col("m")) - mu * mu
    return stats.select(
        "n_nodes",
        F.col("m").alias("n_edges"),
        F.round(mu, 6).alias("mean_edge_degree"),
        F.when(den != 0, F.round(num / den, 6)).alias("assortativity"),
    )


def _kcore_oracle_sql() -> str:
    """Unrolled peeling rounds: e0 → (deg, keep, e1) → ... → eR. Every
    CTE level is AS MATERIALIZED — DuckDB inlines CTEs by default, and an
    inlined round re-expands its predecessor 3 ways (degree union + two
    IN filters), the same 3^rounds blowup the Spark side avoids with
    localCheckpoint."""
    rounds = []
    for r in range(_KCORE_ROUNDS):
        rounds.append(f"""deg{r} AS MATERIALIZED (
            SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
            ) GROUP BY node
        ), keep{r} AS MATERIALIZED (
            SELECT node FROM deg{r} WHERE deg >= {_KCORE_K}
        ), e{r + 1} AS MATERIALIZED (
            SELECT u, v FROM e{r}
            WHERE u IN (SELECT node FROM keep{r})
              AND v IN (SELECT node FROM keep{r})
        )""")
    chain = ", ".join(rounds)
    last = f"e{_KCORE_ROUNDS}"
    return f"""
        WITH {_COSUPPLY_CTES},
        e0 AS MATERIALIZED (SELECT u, v FROM cos_edges), {chain}
        SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT u AS node FROM {last} UNION ALL SELECT v FROM {last})
        GROUP BY node
    """


_CN_HUB_CAP = 25  # parts bought by more customers than this are hubs
_CN_TOP_K = 50


def common_neighbor_pairs(
    edges: DataFrame, hub_cap: int, sf_dir: str | None = None
) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over a bipartite edge list
    ``(c, p)``: for every pair of left-nodes sharing at least one right-node,
    the shared count and Jaccard overlap of their neighborhoods.

    Scale shape — the canonical frequency-filtered neighborhood join, the
    same guard ``dd_ngram_jaccard``'s PPJoin applies to shingles: right-
    nodes with degree > ``hub_cap`` are dropped FIRST (a hub shared by
    everyone carries ~zero link-prediction signal yet contributes
    O(deg²) pairs — the quadratic blowup), so the self-join on the right
    key fans out at most C(hub_cap, 2) per right-node and NEVER goes
    all-pairs over the left side. Degrees and the pair rollup are
    partial-aggregated; Jaccard divides two exact integers (engine-
    identical doubles). Degrees are counted over the SAME filtered edge
    universe the pairs come from, so jaccard <= 1 holds by construction."""
    # NO broadcast hints here on purpose: pdeg/cdeg are DIMENSION-sized
    # (parts, customers) — tiny at fixture scale, where AQE picks broadcast
    # on its own, but billions of rows at 100 TB, where a baked-in hint
    # would OOM the driver; the shuffle equi-join is the correct fallback
    # and every join key here is already the aggregation key (co-partition)
    pdeg = edges.groupBy("p").agg(F.count(F.lit(1)).alias("pd"))
    kept = edges.join(pdeg.filter(F.col("pd") <= hub_cap).select("p"), "p")
    if sf_dir is not None:
        # three consumers (degree rollup + both pair-join legs) — persist
        # as derived state of the trade fixture so the edge build runs once
        kept = derived("g_cn_kept", sf_dir, _TRADE, lambda: kept)
    cdeg = kept.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    pairs = (
        kept.select(F.col("p"), F.col("c").alias("c1"))
        .join(kept.select(F.col("p"), F.col("c").alias("c2")), "p")
        .filter(F.col("c1") < F.col("c2"))
        .groupBy("c1", "c2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        pairs.join(
            cdeg.select(F.col("c").alias("c1"), F.col("deg").alias("deg1")), "c1"
        )
        .join(
            cdeg.select(F.col("c").alias("c2"), F.col("deg").alias("deg2")), "c2"
        )
        .select(
            "c1",
            "c2",
            "n_common",
            (
                F.col("n_common")
                / (F.col("deg1") + F.col("deg2") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def g_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 customer pairs by shared purchased parts (common-neighbor +
    Jaccard link prediction over the customer–part bipartite graph) — the
    'customers like you' / co-purchase affinity signal every recommender
    bootstrap computes. Hub parts (degree > 25) are frequency-filtered
    before the pair join (see ``common_neighbor_pairs``); ordering is the
    deterministic (n_common DESC, c1, c2) total order via
    TakeOrderedAndProject."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    return (
        common_neighbor_pairs(edges, _CN_HUB_CAP, sf_dir)
        .select(
            F.col("c1").alias("custkey_a"),
            F.col("c2").alias("custkey_b"),
            "n_common",
            F.round("jaccard", 6).alias("jaccard"),
        )
        .orderBy(F.desc("n_common"), F.asc("custkey_a"), F.asc("custkey_b"))
        .limit(_CN_TOP_K)
    )


_CN_ORACLE = f"""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    kept AS (
        SELECT c, p FROM e
        WHERE p IN (SELECT p FROM e GROUP BY p HAVING count(*) <= {_CN_HUB_CAP})
    ),
    cdeg AS (SELECT c, count(*) AS deg FROM kept GROUP BY c),
    pairs AS (
        SELECT a.c AS c1, b.c AS c2, count(*) AS n_common
        FROM kept a JOIN kept b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2
    )
    SELECT c1 AS custkey_a, c2 AS custkey_b,
           CAST(n_common AS BIGINT) AS n_common,
           round(n_common / CAST(d1.deg + d2.deg - n_common AS DOUBLE), 6)
               AS jaccard
    FROM pairs
    JOIN cdeg d1 ON d1.c = c1
    JOIN cdeg d2 ON d2.c = c2
    ORDER BY n_common DESC, custkey_a ASC, custkey_b ASC
    LIMIT {_CN_TOP_K}
"""


def g_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link prediction (Zhou, Lü & Zhang 2009 — the
    degree-weighted refinement of common-neighbor scoring; consistently
    beats raw counts and Adamic-Adar on co-purchase graphs): for each
    customer pair, RA = Σ 1/deg(p) over shared parts — a part shared by
    few customers is strong evidence, a near-hub contributes little.
    Top-50 pairs.

    RA is chosen over Adamic-Adar DELIBERATELY: AA's 1/ln(deg) weight
    hangs cross-engine determinism on libm-vs-java.lang.Math log rounding
    (not guaranteed below 1 ulp), while RA's 1/deg is one exact IEEE
    division — the dd/sim modules' determinism contract. Weights are
    summed per pair in part-key order via a sort_array(collect_list)
    fold ↔ the oracle's list(… ORDER BY p) reduce, so every double is
    reproduced bit-for-bit.

    Scale shape: same frequency-filtered pair join as
    ``g_common_neighbors`` (hub parts capped before the
    self-join — the quadratic term is Σ C(deg,2) over SMALL degrees);
    per-pair weight lists are bounded by the cap. One extra broadcast-size
    join against the part-degree table."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pdeg_all = edges.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    kept = derived(
        "g_ra_kept",
        sf_dir,
        _TRADE,
        lambda: edges.join(
            pdeg_all.filter(F.col("deg") <= _CN_HUB_CAP), "p"
        ).select("c", "p", "deg"),
    )
    pairs = (
        kept.select("c", "p", "deg")
        .alias("a")
        .join(kept.select(F.col("c").alias("c2"), "p").alias("b"), "p")
        .filter(F.col("a.c") < F.col("b.c2"))
        .select(
            F.col("a.c").alias("c1"),
            F.col("b.c2").alias("c2"),
            "p",
            (F.lit(1.0) / F.col("a.deg")).alias("w"),
        )
    )
    scored = pairs.groupBy("c1", "c2").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "w"))),
                lambda r: r["w"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ra"),
    )
    return (
        scored.select(
            F.col("c1").alias("custkey_a"),
            F.col("c2").alias("custkey_b"),
            "n_common",
            F.round("ra", 6).alias("ra_score"),
        )
        .orderBy(F.desc("ra_score"), F.asc("custkey_a"), F.asc("custkey_b"))
        .limit(_CN_TOP_K)
    )


_RA_ORACLE = f"""
    WITH e AS (
        SELECT DISTINCT o_custkey AS c, l_partkey AS p
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    pdeg AS (SELECT p, count(*) AS deg FROM e GROUP BY p),
    kept AS (
        SELECT e.c, e.p, d.deg FROM e JOIN pdeg d ON d.p = e.p
        WHERE d.deg <= __CAP__
    ),
    scored AS (
        SELECT a.c AS c1, b.c AS c2,
               CAST(count(*) AS BIGINT) AS n_common,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(CAST(1 AS DOUBLE) / a.deg ORDER BY a.p)),
                   (acc, x) -> acc + x) AS ra
        FROM kept a JOIN kept b ON a.p = b.p AND a.c < b.c
        GROUP BY 1, 2
    )
    SELECT c1 AS custkey_a, c2 AS custkey_b, n_common,
           round(ra, 6) AS ra_score
    FROM scored
    ORDER BY ra_score DESC, custkey_a ASC, custkey_b ASC
    LIMIT __TOPK__
""".replace("__CAP__", str(_CN_HUB_CAP)).replace("__TOPK__", str(_CN_TOP_K))


_BFS_CAP = 32  # hop cap: a lineage/recursion bound far above any co-supply diameter


def g_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances over the co-supply graph — the
    "how far is every supplier from the hub" reachability primitive under
    pagerank/k-core/LPA in every graph stack. Source = the max-degree
    node (ties to the lowest suppkey); output is (s_suppkey, hops) for
    every REACHABLE node, the hop histogram's raw table.

    Iteration contract (the k-core/LPA recipe): frontier expansion is a
    join + left-anti against the visited set per round, localCheckpoint
    per round against lineage blowup, loop exits when the frontier
    empties (cap 32 bounds the pathological case); pure integer state,
    so the DuckDB mirror — a recursive CTE whose UNION dedups (node,
    dist) pairs, then min(dist) per node — is exact with no tolerance.

    Scale shape: per round ONE shuffle (frontier ⋈ edges on the source
    endpoint) + an anti-join against visited; frontier and visited are
    node-bounded. The driver never sees node data — only the one-row
    source anchor and the per-round emptiness probe."""
    sym = _cosupply_sym(spark, sf_dir)
    deg1 = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("u"))
        .limit(1)
        .head()
    )
    if deg1 is None:  # empty graph: no edges survived the density cut
        return spark.createDataFrame([], "s_suppkey bigint, hops int")
    return bfs_from(spark, sym, int(deg1.u)).select(
        F.col("node").alias("s_suppkey"), "hops"
    ).orderBy("hops", "s_suppkey")


def bfs_from(spark: SparkSession, sym: DataFrame, src: int) -> DataFrame:
    """Frontier BFS over a SYMMETRIC edge list ``(u, v)`` from ``src``;
    returns (node, hops) for every reachable node. Hand-pinned in
    tests/test_graph.py on a path-plus-island toy graph."""
    dist = spark.createDataFrame([(src, 0)], "node bigint, hops int")
    frontier = dist
    for i in range(1, _BFS_CAP + 1):
        nxt = (
            frontier.join(sym, frontier["node"] == sym["u"])
            .select(F.col("v").alias("node"), F.lit(i).alias("hops"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return dist


_BFS_ORACLE = f"""
    WITH RECURSIVE {_COSUPPLY_CTES},
    sym AS (
        SELECT u, v FROM cos_edges
        UNION ALL
        SELECT v AS u, u AS v FROM cos_edges
    ),
    srcn AS (
        SELECT u AS node FROM (
            SELECT u, count(*) AS deg FROM sym GROUP BY u
        ) ORDER BY deg DESC, u ASC LIMIT 1
    ),
    walk(node, dist) AS (
        SELECT node, 0 FROM srcn
        UNION
        SELECT e.v, w.dist + 1
        FROM walk w JOIN sym e ON e.u = w.node
        WHERE w.dist < {_BFS_CAP}
    )
    SELECT CAST(node AS BIGINT) AS s_suppkey,
           CAST(min(dist) AS INTEGER) AS hops
    FROM walk GROUP BY node
    ORDER BY hops, s_suppkey
"""


def g_diameter_lb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter LOWER BOUND by the classic double BFS sweep: BFS
    from the max-degree hub, hop to the farthest reachable node (ties to
    the lowest suppkey), BFS again — the second eccentricity bounds the
    diameter from below and is exact on trees, near-exact on most real
    graphs. The O(m) answer to "how many hops across is this network"
    that an all-pairs BFS (O(n·m)) can't afford at scale.

    Reuses ``bfs_from`` (frontier joins + localCheckpoint per round), so
    the iteration contract and the shared symmetric-edge cache are the
    g_bfs_hops ones; the two hop anchors are one-row collects. DuckDB
    replays both sweeps as recursive CTEs — integer hops, exact."""
    sym = _cosupply_sym(spark, sf_dir)
    deg1 = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("u"))
        .limit(1)
        .head()
    )
    if deg1 is None:
        return spark.createDataFrame(
            [], "src bigint, ecc_src int, far_node bigint, diameter_lb int"
        )
    src = int(deg1.u)
    far = (
        bfs_from(spark, sym, src)
        .orderBy(F.desc("hops"), F.asc("node"))
        .limit(1)
        .head()
    )
    return (
        bfs_from(spark, sym, int(far.node))
        .agg(F.max("hops").alias("diameter_lb"))
        .select(
            F.lit(src).cast("bigint").alias("src"),
            F.lit(int(far.hops)).cast("int").alias("ecc_src"),
            F.lit(int(far.node)).cast("bigint").alias("far_node"),
            F.col("diameter_lb").cast("int").alias("diameter_lb"),
        )
    )


_DIAM_ORACLE = f"""
    WITH RECURSIVE {_COSUPPLY_CTES},
    sym AS (
        SELECT u, v FROM cos_edges
        UNION ALL
        SELECT v AS u, u AS v FROM cos_edges
    ),
    srcn AS (
        SELECT u AS node FROM (
            SELECT u, count(*) AS deg FROM sym GROUP BY u
        ) ORDER BY deg DESC, u ASC LIMIT 1
    ),
    walk1(node, dist) AS (
        SELECT node, 0 FROM srcn
        UNION
        SELECT e.v, w.dist + 1 FROM walk1 w JOIN sym e ON e.u = w.node
        WHERE w.dist < {_BFS_CAP}
    ),
    d1 AS (SELECT node, min(dist) AS hops FROM walk1 GROUP BY node),
    far AS (
        SELECT node, hops FROM d1 ORDER BY hops DESC, node ASC LIMIT 1
    ),
    walk2(node, dist) AS (
        SELECT node, 0 FROM far
        UNION
        SELECT e.v, w.dist + 1 FROM walk2 w JOIN sym e ON e.u = w.node
        WHERE w.dist < {_BFS_CAP}
    ),
    d2 AS (SELECT node, min(dist) AS hops FROM walk2 GROUP BY node)
    SELECT CAST(srcn.node AS BIGINT) AS src,
           CAST(far.hops AS INTEGER) AS ecc_src,
           CAST(far.node AS BIGINT) AS far_node,
           CAST((SELECT max(hops) FROM d2) AS INTEGER) AS diameter_lb
    FROM srcn, far
"""


_CC_CAP = 32  # round cap: min-label propagation converges in <= diameter rounds


def g_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the co-supply graph — the partition-the-
    network primitive under every community/territory analysis (and the
    generalization of ``dd_components`` from dedup clusters to an
    analytic graph). Component id = the minimum suppkey in the component
    (deterministic, engine-independent).

    Algorithm: min-label propagation — every node starts labeled with
    itself; each round every node takes the min of its own label and its
    neighbors' labels. Converges in <= diameter rounds (cap {_CC_CAP}).

    Scale shape: per round ONE shuffle (labels ⋈ symmetric edges on the
    source endpoint) + a node-keyed partial-aggregated min; labels are
    (node, long) pairs — 16 bytes/node of state, never payload.
    Convergence probe is a ONE-ROW sum aggregate (labels only ever
    decrease, so the label-sum strictly decreases iff any node changed)
    — the driver never sees node data. localCheckpoint per round bounds
    lineage exactly as ``g_kcore``/``dd_components`` document. At 1000
    executors this is the textbook hash-partitioned label propagation;
    a pathological high-diameter graph would switch to large-star/
    small-star rounds (O(log n)), which this loop structure admits
    without changing the data layout."""
    sym = _cosupply_sym(spark, sf_dir)  # shared with g_bfs_hops
    lbl = components_of(sym)
    sizes = lbl.groupBy(F.col("lbl").alias("component")).agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        lbl.select(F.col("node").alias("s_suppkey"), F.col("lbl").alias("component"))
        .join(sizes, "component")
        .select("s_suppkey", "component", "component_size")
        .orderBy("component", "s_suppkey")
    )


def components_of(sym: DataFrame) -> DataFrame:
    """Min-label propagation over a SYMMETRIC edge list ``(u, v)``;
    returns (node, lbl) with lbl = min node id in the component.
    Hand-pinned in tests/test_graph.py on known topologies.

    Convergence is PROVEN, not assumed: labels decrease monotonically, so
    an unchanged label sum means no node moved — a fixed point. If the
    round cap is hit first (a component with diameter > ``_CC_CAP``), the
    labeling is incomplete and would silently diverge from the uncapped
    oracle — raise instead of returning a wrong answer (the escalation
    path at that diameter is large-star/small-star rounds, which this
    loop structure admits without changing the data layout)."""
    lbl = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    prev_sum = lbl.agg(F.sum("lbl")).head()[0]
    for _ in range(_CC_CAP):
        nbr = sym.join(lbl, sym["u"] == lbl["node"]).select(
            F.col("v").alias("node"), F.col("lbl")
        )
        lbl = (
            lbl.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        new_sum = lbl.agg(F.sum("lbl")).head()[0]
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"components_of: min-label propagation did not converge in "
            f"{_CC_CAP} rounds (component diameter exceeds the cap); "
            "refusing to return a partial labeling"
        )
    return lbl


_CC_ORACLE = f"""
    WITH RECURSIVE {_COSUPPLY_CTES},
    sym AS (
        SELECT u, v FROM cos_edges
        UNION ALL
        SELECT v AS u, u AS v FROM cos_edges
    ),
    walk(root, nd) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT w.root, e.v FROM walk w JOIN sym e ON e.u = w.nd
    ),
    comp AS (SELECT root AS node, min(nd) AS component FROM walk GROUP BY root)
    SELECT CAST(node AS BIGINT) AS s_suppkey,
           CAST(component AS BIGINT) AS component,
           CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
               AS component_size
    FROM comp ORDER BY component, s_suppkey
"""


def _cosupply_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted symmetric co-supply edge list (both orientations of every
    edge), shared by the BFS and component operators."""
    edges = _cosupply_edges(spark, sf_dir)
    return derived(
        "g_bfs_sym",
        sf_dir,
        _LINEITEM,
        lambda: edges.unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
    )


def _cosupply_wedges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED co-supply edges (u, v, w) — the same edge set as
    ``_cosupply_edges`` but keeping the shared-order weight the MSF
    needs."""
    pw, min_w = _cosupply_cut(spark, sf_dir)
    return derived(
        "g_cosupply_wedges", sf_dir, _LINEITEM, lambda: pw.filter(F.col("w") >= min_w)
    )


_MSF_ROUND_CAP = 16  # Borůvka halves the component count per round: log2(n)


def g_max_spanning_forest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM spanning forest of the weighted co-supply graph (Borůvka)
    — the strongest-backbone subgraph: the tree of co-supply relations a
    network planner keeps if forced to retain n−1 edges per component
    (dependency backbones, dedup-cluster canonical trees, single-link
    clustering all reduce to this).

    Determinism: edge weights are made STRICTLY totally ordered by the
    packed integer key ``w·10¹² + u·10⁶ + v``, so the max spanning
    forest is UNIQUE — which lets the oracle verify by the cycle
    property (an edge is in the unique MaxSF iff no path of strictly
    stronger edges connects its endpoints) instead of replaying
    Borůvka: two different algorithms, one theorem, exact equality.

    Scale shape (the textbook distributed MSF): per round each
    component picks its strongest incident edge (edge ⋈ labels twice,
    one partial-aggregated max per component — shuffles bounded by
    edges), the picked edges' component graph contracts via
    ``components_of`` (label propagation on a component-count-sized
    frame, halving per round), cap {_MSF_ROUND_CAP} rounds = log₂(n).
    localCheckpoint per round bounds lineage."""
    wedges = _cosupply_wedges(spark, sf_dir)
    ew = wedges.select(
        "u",
        "v",
        "w",
        (
            F.col("w") * F.lit(1_000_000_000_000)
            + F.col("u") * F.lit(1_000_000)
            + F.col("v")
        ).alias("wk"),
    ).localCheckpoint()
    msf = boruvka_msf(spark, ew)
    if msf is None:
        return spark.createDataFrame([], "u bigint, v bigint, w bigint")
    return (
        msf.select("u", "v", F.col("w").cast("long").alias("w"))
        .distinct()
        .orderBy("u", "v")
    )


_MSF_JUMP_CAP = 20  # pointer-jumping halves chain height per step: log2
# filter-and-finish threshold (Karloff–Suri–Vassilvitskii MST recipe):
# once the CONTRACTED component graph has at most this many edges, solve
# the remainder with driver-side Kruskal — a config-bounded anchor (a few
# MB), the same finish rule every production distributed-MST uses. Also a
# planner-pathology guard: repeated tiny-frame checkpoint rounds sent
# Catalyst's BigInteger size estimation into minutes-long spins (observed
# via jstack: Thread cpu-bound in BigInteger.multiplyToomCook3), so the
# distributed loop only ever runs on genuinely large frames.
_MSF_LOCAL_EDGES = 100_000


def _kruskal(rows: list) -> list[tuple[int, int, int, int]]:
    """Greedy Kruskal over collected component-graph edges
    (cu, cv, u, v, w, wk), strongest wk first, union-find on component
    ids; returns the picked ORIGINAL edges (u, v, w, wk)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for r in sorted(rows, key=lambda r: -r.wk):
        ru, rv = find(int(r.cu)), find(int(r.cv))
        if ru != rv:
            parent[ru] = rv
            out.append((int(r.u), int(r.v), int(r.w), int(r.wk)))
    return out


def boruvka_msf(spark: SparkSession, ew: DataFrame) -> DataFrame | None:
    """Borůvka rounds over a weighted edge list ``(u, v, w, wk)`` with
    ``wk`` a STRICT total order; returns the unique max-spanning-forest
    edges (or None on an empty graph). Hand-pinned in tests/test_graph.py
    against Kruskal on a toy graph.

    CONTRACTED formulation (the scalable Borůvka): the working frame is
    the COMPONENT graph — each surviving edge carries its endpoint
    component ids plus the strongest ORIGINAL edge between that
    component pair. Per round: (1) per-component best incident edge
    (one partial-aggregated max); (2) contraction via the pick-graph's
    parent pointers — with strict weights every pick-cycle is a
    2-cycle, broken by rooting the smaller id, then POINTER JUMPING
    (log₂(height) self-joins on the component-count-sized frame, not a
    diameter-round label propagation); (3) endpoints re-map through the
    roots and PARALLEL EDGES REDUCE to the per-pair max (the cycle
    property says non-max parallels can never join the forest). Both
    the edge frame and the component frame shrink geometrically, so
    unlike the naive loop no round re-joins the full edge set."""
    cedges = ew.select(
        F.col("u").alias("cu"), F.col("v").alias("cv"), "u", "v", "w", "wk"
    ).localCheckpoint()
    picks: list[DataFrame] = []
    for _ in range(_MSF_ROUND_CAP):
        n_edges = cedges.count()
        if n_edges == 0:
            break
        if n_edges <= _MSF_LOCAL_EDGES:
            # KSV filter-and-finish: the contracted graph fits the local
            # threshold — Kruskal the remainder on the driver (same strict
            # total order ⇒ same unique forest the rounds would build)
            local = _kruskal(cedges.collect())
            if local:
                picks.append(
                    spark.createDataFrame(
                        local, "u bigint, v bigint, w bigint, wk bigint"
                    )
                )
            break
        both = cedges.select(
            F.col("cu").alias("c"), F.col("cv").alias("o"), "u", "v", "w", "wk"
        ).unionByName(
            cedges.select(
                F.col("cv").alias("c"), F.col("cu").alias("o"),
                "u", "v", "w", "wk",
            )
        )
        bestc = (
            both.groupBy("c")
            .agg(F.max(F.struct("wk", "u", "v", "w", "o")).alias("b"))
            .select("c", "b.o", "b.u", "b.v", "b.w", "b.wk")
            .localCheckpoint()
        )
        # sel stays LAZY over the checkpointed bestc — the final union
        # re-reads the checkpoints, no per-round materialization of the
        # accumulated forest
        picks.append(bestc.select("u", "v", "w", "wk"))
        # parent pointers; mutual picks (the only cycles under strict
        # weights) root at the smaller id
        par0 = bestc.select("c", F.col("o").alias("p"))
        mutual = (
            par0.alias("a")
            .join(
                par0.alias("b"),
                (F.col("a.p") == F.col("b.c")) & (F.col("b.p") == F.col("a.c")),
            )
            .select(F.col("a.c").alias("c"), F.lit(1).alias("m"))
        )
        par = (
            par0.join(mutual, "c", "left_outer")
            .select(
                "c",
                F.when(
                    (F.col("m") == 1) & (F.col("c") < F.col("p")), F.col("c")
                )
                .otherwise(F.col("p"))
                .alias("p"),
            )
            .localCheckpoint()
        )
        for _ in range(_MSF_JUMP_CAP):
            # one self-join per jump; the convergence probe is a NARROW
            # filter on the checkpointed result (p_old carried along), not
            # a second join
            nxt = (
                par.alias("x")
                .join(
                    par.select(
                        F.col("c").alias("pc"), F.col("p").alias("pp")
                    ),
                    F.col("x.p") == F.col("pc"),
                )
                .select(
                    F.col("x.c").alias("c"),
                    F.col("x.p").alias("p_old"),
                    F.col("pp").alias("p"),
                )
                .localCheckpoint()
            )
            converged = nxt.filter(F.col("p") != F.col("p_old")).isEmpty()
            par = nxt.select("c", "p")
            if converged:
                break
        cedges = (
            cedges.join(
                par.select(F.col("c").alias("cu"), F.col("p").alias("ru")),
                "cu",
            )
            .join(
                par.select(F.col("c").alias("cv"), F.col("p").alias("rv")),
                "cv",
            )
            .filter(F.col("ru") != F.col("rv"))
            .select(
                F.least("ru", "rv").alias("cu"),
                F.greatest("ru", "rv").alias("cv"),
                "u",
                "v",
                "w",
                "wk",
            )
            .groupBy("cu", "cv")
            .agg(F.max(F.struct("wk", "u", "v", "w")).alias("b"))
            .select("cu", "cv", "b.u", "b.v", "b.w", "b.wk")
            .localCheckpoint()
        )
    if not picks:
        return None
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.distinct()


_MSF_ORACLE = f"""
    WITH RECURSIVE {_COSUPPLY_CTES},
    ewk AS (
        SELECT u, v, CAST(w AS BIGINT) AS w,
               w * 1000000000000 + u * 1000000 + v AS wk
        FROM pw, th WHERE w >= min_w
    ),
    sym2 AS (
        SELECT u, v, wk FROM ewk
        UNION ALL
        SELECT v AS u, u AS v, wk FROM ewk
    ),
    walk(eu, ev, ewk_key, node) AS (
        SELECT u, v, wk, u FROM ewk
        UNION
        SELECT x.eu, x.ev, x.ewk_key, s.v
        FROM walk x JOIN sym2 s ON s.u = x.node AND s.wk > x.ewk_key
    )
    SELECT e.u, e.v, e.w FROM ewk e
    WHERE NOT EXISTS (
        SELECT 1 FROM walk x
        WHERE x.eu = e.u AND x.ev = e.v AND x.ewk_key = e.wk
          AND x.node = e.v
    )
    ORDER BY e.u, e.v
"""


_HITS_SCALE = 1_000_000_000_000  # picounits, the g_pagerank fixed-point rule
_HITS_ITERS = 2
_HITS_TOP_K = 25


def g_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hub/authority scores over the BIPARTITE customer→supplier
    trade graph (distinct (custkey, suppkey) pairs from orders ⋈
    lineitem) — the "which suppliers do the best-connected customers
    buy from" signal that raw degree misses: an authority score weights
    each customer link by that customer's hub score, which in turn
    weights its suppliers' authorities. Top-{_HITS_TOP_K} authorities.

    Determinism (the g_pagerank rule): HITS needs a normalization per
    half-step, which is a division — so the whole recurrence runs in
    64-bit fixed point (picounits). hub⁰ = SCALE; auth = Σ hub over
    in-edges (exact integer sum, order-independent), then an integer
    re-scale ``(auth · SCALE) div max(auth)``; same for hubs. The
    multiply runs in decimal(38,0) ↔ HUGEINT (a picounit sum times
    SCALE overflows int64 at ~10M-customer scale), and DuckDB replays
    the identical integer recurrence — exact compare, no tolerance.

    Scale shape: per half-step one equi-join contribution shuffle +
    one partial-aggregated sum (the PageRank iteration shape on a
    bipartite edge list); the normalizer is a ONE-ROW max aggregate
    broadcast back (allow-listed scalar-anchor cross join). Iterations
    fixed ({_HITS_ITERS}), lineage shallow."""
    orders = t(spark, sf_dir, "orders")
    lineitem = t(spark, sf_dir, "lineitem")
    tp = derived(
        "g_hits_tp",
        sf_dir,
        _TRADE,
        lambda: orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
        .repartition("c"),
    )
    return (
        hits_authorities(tp)
        .orderBy(F.desc("auth_pico"), F.asc("s_suppkey"))
        .limit(_HITS_TOP_K)
    )


def hits_authorities(tp: DataFrame) -> DataFrame:
    """Fixed-point HITS over a bipartite edge list ``(c, s)``; returns
    (s_suppkey, n_customers, auth_pico) for every authority. Hand-pinned
    in tests/test_graph.py on a toy bipartite graph.

    Two algebraic collapses halve the contribution joins (2·ITERS → 2·ITERS−2)
    without changing a single output bit:

    - hub⁰ is the CONSTANT SCALE, so iteration 1's authority sum is
      SCALE·indegree(s) — the first join folds into the degree aggregate
      (which the final n_customers column needs anyway), and the rescale
      cancels the common SCALE factor exactly:
      ⌊deg·S·S / (S·max_deg)⌋ = ⌊deg·S / max_deg⌋ (floor is invariant
      under cancelling a common positive integer factor of numerator and
      divisor).
    - the LAST hub half-step's output is never read (only authorities are
      returned), so it is never built — the old loop eagerly
      localCheckpoint'ed it per iteration."""
    deg = tp.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_customers")
    ).localCheckpoint()
    dm = F.broadcast(deg.agg(F.max("n_customers").alias("am")))
    auth = deg.crossJoin(dm).select(
        "s",
        F.expr(
            f"CAST((CAST(n_customers AS DECIMAL(38,0)) * {_HITS_SCALE})"
            " div am AS BIGINT)"
        ).alias("a"),
    ).localCheckpoint()
    for _ in range(_HITS_ITERS - 1):
        hr = (
            tp.join(auth, "s")
            .groupBy("c")
            .agg(F.sum(F.col("a").cast("decimal(38,0)")).alias("hr"))
        )
        hm = F.broadcast(hr.agg(F.max("hr").alias("hm")))
        # localCheckpoint per half-step: each one-row normalizer anchor is
        # its own broadcast-build job, and without truncation the am/final
        # jobs would re-execute the whole upstream lineage (hr recomputed
        # 3×) — the k-core/LPA iteration rule applied to node-bounded state
        hub = hr.crossJoin(hm).select(
            "c",
            F.expr(f"CAST((hr * {_HITS_SCALE}) div hm AS BIGINT)").alias("h"),
        ).localCheckpoint()
        ar = (
            tp.join(hub, "c")
            .groupBy("s")
            .agg(F.sum(F.col("h").cast("decimal(38,0)")).alias("ar"))
        )
        am = F.broadcast(ar.agg(F.max("ar").alias("am")))
        auth = ar.crossJoin(am).select(
            "s",
            F.expr(f"CAST((ar * {_HITS_SCALE}) div am AS BIGINT)").alias("a"),
        ).localCheckpoint()
    return auth.join(deg, "s").select(
        F.col("s").alias("s_suppkey"),
        "n_customers",
        F.col("a").alias("auth_pico"),
    )


_HITS_ORACLE = f"""
    WITH tp AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST({_HITS_SCALE} AS BIGINT) AS h FROM tp),
    a1r AS (SELECT s, sum(h) AS ar FROM tp JOIN h0 USING (c) GROUP BY s),
    a1m AS (SELECT max(ar) AS am FROM a1r),
    a1 AS (SELECT s, CAST(ar * {_HITS_SCALE} // am AS BIGINT) AS a
           FROM a1r, a1m),
    h1r AS (SELECT c, sum(a) AS hr FROM tp JOIN a1 USING (s) GROUP BY c),
    h1m AS (SELECT max(hr) AS hm FROM h1r),
    h1 AS (SELECT c, CAST(hr * {_HITS_SCALE} // hm AS BIGINT) AS h
           FROM h1r, h1m),
    a2r AS (SELECT s, sum(h) AS ar FROM tp JOIN h1 USING (c) GROUP BY s),
    a2m AS (SELECT max(ar) AS am FROM a2r),
    a2 AS (SELECT s, CAST(ar * {_HITS_SCALE} // am AS BIGINT) AS a
           FROM a2r, a2m),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS n_customers
            FROM tp GROUP BY s)
    SELECT CAST(a2.s AS BIGINT) AS s_suppkey, deg.n_customers,
           a2.a AS auth_pico
    FROM a2 JOIN deg USING (s)
    ORDER BY auth_pico DESC, s_suppkey ASC LIMIT {_HITS_TOP_K}
"""


def g_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA communities over the co-supply
    graph — the detect → SCORE half of the community lifecycle (is the
    partition ``g_label_propagation`` found actually better than random
    rewiring?). Q = Σ_c [e_c/m − (d_c/2m)²] collapses to PURE INTEGER
    sufficient statistics: Q = (4m·E_intra − Σ_c d_c²) / (4m²), where
    E_intra counts intra-community edges and d_c sums member degrees —
    so the whole score is three exact integer aggregates and ONE double
    division (no per-community double fold, no community-count bound
    anywhere in the arithmetic).

    Scale shape: the 3-round deterministic LPA (shared kernel), one
    edge×labels join for E_intra (two broadcast-able label lookups), one
    degree join for the d_c rollup; anchors are one-row cross joins
    (allow-listed).

    Oracle: replays the unrolled LPA CTE chain and the identical integer
    formula."""
    return modularity_score(
        _cosupply_edges(spark, sf_dir),
        sf_dir,
    )


def modularity_score(
    edges: DataFrame, sf_dir: str | None = None
) -> DataFrame:
    """Q over any undirected edge list (u < v, distinct) with 3-round
    LPA labels; see ``g_modularity``. Hand-pinned in tests/test_graph.py
    (two disjoint triangles → perfect partition, Q = 0.5).

    ``sf_dir`` shares the label frame with ``g_label_propagation`` (same
    registry entry ⇒ same Spark cache entry), so scoring a partition that was
    just detected never re-runs the Pregel loop — and Q's own two label
    joins + degree rollup read the persisted frame instead of re-deriving
    the 3-round lineage three times."""
    lab = label_propagation(edges, sf_dir=sf_dir)
    lu = lab.select(F.col("node").alias("u"), F.col("label").alias("lab_u"))
    lv = lab.select(F.col("node").alias("v"), F.col("label").alias("lab_v"))
    em = F.broadcast(
        edges.join(lu, "u")
        .join(lv, "v")
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
            F.sum(
                (F.col("lab_u") == F.col("lab_v")).cast("decimal(38,0)")
            ).alias("e_in"),
        )
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dc = (
        deg.join(lab, "node")
        .groupBy("label")
        .agg(F.sum(F.col("deg").cast("decimal(38,0)")).alias("d_c"))
    )
    dstats = F.broadcast(
        dc.agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_dc2"),
        )
    )
    four_m2 = F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("m")
    num = (
        F.lit(4).cast("decimal(38,0)") * F.col("m") * F.col("e_in")
        - F.col("sum_dc2")
    )
    return em.crossJoin(dstats).select(
        F.col("n_communities").cast("long").alias("n_communities"),
        F.col("m").cast("long").alias("n_edges"),
        F.col("e_in").cast("long").alias("intra_edges"),
        F.round(
            num.cast("double") / four_m2.cast("double"), 6
        ).alias("modularity"),
    )


_MODULARITY_ORACLE_TMPL = """
    WITH {ctes},
    bi AS (
        SELECT u AS src, v AS dst FROM cos_edges
        UNION ALL SELECT v, u FROM cos_edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM bi),
    {steps},
    lab AS (SELECT node, label FROM l{iters}),
    em AS (
        SELECT CAST(count(*) AS HUGEINT) AS m,
               CAST(sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)
                    AS HUGEINT) AS e_in
        FROM cos_edges e
        JOIN lab a ON a.node = e.u
        JOIN lab b ON b.node = e.v
    ),
    deg AS (
        SELECT src AS node, count(*) AS deg FROM bi GROUP BY src
    ),
    dc AS (
        SELECT lab.label, CAST(sum(deg) AS HUGEINT) AS d_c
        FROM deg JOIN lab USING (node) GROUP BY lab.label
    ),
    ds AS (
        SELECT CAST(count(*) AS BIGINT) AS n_communities,
               sum(d_c * d_c) AS sum_dc2
        FROM dc
    )
    SELECT n_communities, CAST(m AS BIGINT) AS n_edges,
           CAST(e_in AS BIGINT) AS intra_edges,
           round(CAST(4 * m * e_in - sum_dc2 AS DOUBLE)
                 / CAST(4 * m * m AS DOUBLE), 6) AS modularity
    FROM em, ds
"""


def _modularity_oracle_sql() -> str:
    steps = ", ".join(
        f"l{k} AS ({_LPA_ORACLE_STEP.format(prev=('l0' if k == 1 else f'l{k - 1}'))})"
        for k in range(1, _LPA_ITERS + 1)
    )
    return _MODULARITY_ORACLE_TMPL.format(
        ctes=_COSUPPLY_CTES, steps=steps, iters=_LPA_ITERS
    )


_COND_TOP = 10


def g_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community CONDUCTANCE over the LPA partition of the co-supply
    graph — the local quality metric next to ``g_modularity``'s global
    score (a partition can have high Q while individual communities leak:
    φ(c) = cut(c) / min(vol(c), 2m − vol(c)) says which ones). Reported
    for the ``_COND_TOP`` largest communities.

    Shares the SAME persisted LPA label frame as ``g_label_propagation``
    and ``g_modularity`` (one cache key ⇒ the 3-round Pregel loop runs
    once per fixture generation, the round-13 verdict recipe).

    Exactness: cut/vol/e_in are pure integer censuses (a cut edge is
    charged to BOTH its communities via one explode); ONE double
    division, round 6; φ is NULL when min(vol, 2m−vol) = 0 (the
    everything-in-one-community degenerate).

    Scale shape: one edge×labels join (broadcast-able label lookups),
    community-bounded rollups, TakeOrdered top-10."""
    return conductance_scores(
        _cosupply_edges(spark, sf_dir),
        sf_dir,
    )


def conductance_scores(
    edges: DataFrame, sf_dir: str | None = None
) -> DataFrame:
    """φ over any undirected edge list (u < v, distinct) with 3-round LPA
    labels; see ``g_conductance``. Hand-pinned in tests/test_graph.py
    (two triangles + one bridge edge → φ = 1/7 each side)."""
    lab = label_propagation(edges, sf_dir=sf_dir)
    lu = lab.select(F.col("node").alias("u"), F.col("label").alias("lab_u"))
    lv = lab.select(F.col("node").alias("v"), F.col("label").alias("lab_v"))
    tagged = edges.join(lu, "u").join(lv, "v")
    m_row = F.broadcast(edges.agg(F.count(F.lit(1)).alias("m")))
    # ONE pass over the labelled edges: each edge explodes into its
    # community contributions (intra edge → one (c, e_in=1) row; cut edge
    # → one (c, cut=1) row per side), so the e_in and cut censuses share
    # a single edge×labels join and a single community shuffle — the old
    # two-branch form re-ran the tagged join per census
    contrib = tagged.select(
        F.explode(
            F.when(
                F.col("lab_u") == F.col("lab_v"),
                F.array(
                    F.struct(
                        F.col("lab_u").alias("community"),
                        F.lit(1).alias("e"),
                        F.lit(0).alias("k"),
                    )
                ),
            ).otherwise(
                F.array(
                    F.struct(
                        F.col("lab_u").alias("community"),
                        F.lit(0).alias("e"),
                        F.lit(1).alias("k"),
                    ),
                    F.struct(
                        F.col("lab_v").alias("community"),
                        F.lit(0).alias("e"),
                        F.lit(1).alias("k"),
                    ),
                )
            )
        ).alias("x")
    )
    censo = contrib.groupBy(F.col("x.community").alias("community")).agg(
        F.sum("x.e").alias("e_in"), F.sum("x.k").alias("cut")
    )
    sizes = lab.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )
    j = (
        sizes.join(censo, "community", "left")
        .fillna(0, ["e_in", "cut"])
        .crossJoin(m_row)
    )
    vol = 2 * F.col("e_in") + F.col("cut")
    denom = F.least(vol, 2 * F.col("m") - vol)
    return (
        j.select(
            F.col("community").cast("long").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
            vol.cast("long").alias("volume"),
            F.col("cut").cast("long").alias("cut_edges"),
            F.when(
                denom > 0,
                F.round(F.col("cut").cast("double") / denom.cast("double"), 6),
            ).alias("conductance"),
        )
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(_COND_TOP)
    )


_CONDUCTANCE_ORACLE_TMPL = """
    WITH {ctes},
    bi AS (
        SELECT u AS src, v AS dst FROM cos_edges
        UNION ALL SELECT v, u FROM cos_edges
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM bi),
    {steps},
    lab AS (SELECT node, label FROM l{iters}),
    em AS (SELECT CAST(count(*) AS BIGINT) AS m FROM cos_edges),
    tag AS (
        SELECT a.label AS lu, b.label AS lv
        FROM cos_edges e
        JOIN lab a ON a.node = e.u
        JOIN lab b ON b.node = e.v
    ),
    intra AS (
        SELECT lu AS community, CAST(count(*) AS BIGINT) AS e_in
        FROM tag WHERE lu = lv GROUP BY 1
    ),
    cut AS (
        SELECT community, CAST(count(*) AS BIGINT) AS cut
        FROM (SELECT unnest([lu, lv]) AS community FROM tag WHERE lu <> lv)
        GROUP BY 1
    ),
    sizes AS (
        SELECT label AS community, CAST(count(*) AS BIGINT) AS n_members
        FROM lab GROUP BY 1
    ),
    j AS (
        SELECT s.community, s.n_members,
               coalesce(i.e_in, 0) AS e_in, coalesce(c.cut, 0) AS cut, m
        FROM sizes s
        LEFT JOIN intra i ON i.community = s.community
        LEFT JOIN cut c ON c.community = s.community
        CROSS JOIN em
    )
    SELECT CAST(community AS BIGINT) AS community, n_members,
           CAST(2 * e_in + cut AS BIGINT) AS volume,
           cut AS cut_edges,
           CASE WHEN least(2 * e_in + cut, 2 * m - (2 * e_in + cut)) > 0
                THEN round(CAST(cut AS DOUBLE)
                           / CAST(least(2 * e_in + cut,
                                        2 * m - (2 * e_in + cut)) AS DOUBLE),
                           6)
           END AS conductance
    FROM j
    ORDER BY n_members DESC, community ASC
    LIMIT {top}
"""


def _conductance_oracle_sql() -> str:
    steps = ", ".join(
        f"l{k} AS ({_LPA_ORACLE_STEP.format(prev=('l0' if k == 1 else f'l{k - 1}'))})"
        for k in range(1, _LPA_ITERS + 1)
    )
    return _CONDUCTANCE_ORACLE_TMPL.format(
        ctes=_COSUPPLY_CTES, steps=steps, iters=_LPA_ITERS, top=_COND_TOP
    )


def g_powerlaw_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law fit over the co-supply graph: OLS of
    ln n_k on ln k across the degree histogram (n_k ∝ k^−α ⇒ slope −α)
    — the scale-free diagnostic read next to ``g_rich_club`` and
    ``g_assortativity``, and the graph sibling of ``tx_heaps_law``'s
    log-log fit (shared recipe: exact integer histogram upstream, a
    pinned-order fold of the bounded points, one slope division).

    Scale shape: ONE degree aggregate over the shared edge frame, then a
    histogram bounded by the number of DISTINCT degree values (a few
    hundred at any scale); the fit folds those points in degree order —
    no data-sized sort, no unbounded window.

    Exactness: n_nodes/n_edges/max_degree are exact integers
    (Σn_k, Σk·n_k/2, max k); the fold adds ln doubles in pinned degree
    order with the identical expression tree in DuckDB."""
    return degree_powerlaw(_cosupply_edges(spark, sf_dir))


def degree_powerlaw(edges: DataFrame) -> DataFrame:
    """The fit over any undirected edge list (u < v, distinct); see
    ``g_powerlaw_fit``. Hand-pinned in tests/test_graph.py."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    hist = deg.groupBy("deg").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_k")
    )
    init = F.struct(
        F.lit(0.0).alias("sx"),
        F.lit(0.0).alias("sy"),
        F.lit(0.0).alias("sxy"),
        F.lit(0.0).alias("sxx"),
        F.lit(0.0).alias("k"),
    )

    def step(acc, e):
        x = F.log(e["deg"].cast("double"))
        y = F.log(e["n_k"].cast("double"))
        return F.struct(
            (acc["sx"] + x).alias("sx"),
            (acc["sy"] + y).alias("sy"),
            (acc["sxy"] + x * y).alias("sxy"),
            (acc["sxx"] + x * x).alias("sxx"),
            (acc["k"] + 1).alias("k"),
        )

    fitted = hist.agg(
        F.sum("n_k").alias("n_nodes"),
        (
            F.sum(F.col("deg").cast("decimal(38,0)") * F.col("n_k"))
            / F.lit(2).cast("decimal(38,0)")
        ).alias("n_edges"),
        F.max("deg").alias("max_degree"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("deg", "n_k"))), init, step
        ).alias("st"),
    )
    slope = (
        F.col("st.k") * F.col("st.sxy") - F.col("st.sx") * F.col("st.sy")
    ) / (
        F.col("st.k") * F.col("st.sxx") - F.col("st.sx") * F.col("st.sx")
    )
    return fitted.select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("max_degree").cast("int").alias("max_degree"),
        F.round(-slope, 6).alias("alpha"),
    )


_POWERLAW_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    nodes AS (
        SELECT u AS node FROM cos_edges
        UNION ALL SELECT v AS node FROM cos_edges
    ),
    deg AS (SELECT node, count(*) AS deg FROM nodes GROUP BY node),
    hist AS (
        SELECT deg, CAST(count(*) AS HUGEINT) AS n_k FROM deg GROUP BY deg
    ),
    fit AS (
        SELECT sum(n_k) AS n_nodes,
               sum(CAST(deg AS HUGEINT) * n_k) // 2 AS n_edges,
               max(deg) AS max_degree,
               CAST(count(*) AS DOUBLE) AS k,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(ln(CAST(deg AS DOUBLE)) ORDER BY deg)),
                   (a, x) -> a + x) AS sx,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(ln(CAST(n_k AS DOUBLE)) ORDER BY deg)),
                   (a, x) -> a + x) AS sy,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(ln(CAST(deg AS DOUBLE)) * ln(CAST(n_k AS DOUBLE))
                        ORDER BY deg)),
                   (a, x) -> a + x) AS sxy,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list(ln(CAST(deg AS DOUBLE)) * ln(CAST(deg AS DOUBLE))
                        ORDER BY deg)),
                   (a, x) -> a + x) AS sxx
        FROM hist
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(max_degree AS INTEGER) AS max_degree,
           round(-((k * sxy - sx * sy) / (k * sxx - sx * sx)), 6) AS alpha
    FROM fit
"""


def g_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient curve over the co-supply graph: for each
    degree threshold k, RC(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts
    nodes with degree > k and E_k counts edges BETWEEN them — the
    classic "do the hubs preferentially interconnect" diagnostic
    (Colizza et al. 2006) read next to assortativity.

    Scale shape: the per-k recompute the textbook definition implies is
    O(|k-grid|·E); HERE both curves collapse to SUFFIX COUNTS over
    value histograms — a node enters N_k for every k below its degree,
    an edge enters E_k for every k below min(deg_u, deg_v) — so the
    whole curve costs two bounded histograms (distinct degree values —
    a few hundred at any scale) plus non-equi joins BETWEEN those
    histograms (broadcast, domain-bounded; allow-listed BNLJ). The fact
    table is touched once for degrees and once for edge minima.

    Exactness: every count is integer; RC does its one double division
    per k at the end."""
    edges = _cosupply_edges(spark, sf_dir)
    return rich_club_curve(edges, sf_dir)


def rich_club_curve(edges: DataFrame, sf_dir: str | None = None) -> DataFrame:
    """RC(k) curve over an undirected edge list (u < v, distinct); see
    ``g_rich_club``. Hand-pinned in tests/test_graph.py."""
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    if sf_dir is not None:
        deg = derived("g_rc_deg", sf_dir, _LINEITEM, lambda: deg)
    edge_min = (
        edges.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
        .select(F.least("du", "dv").alias("m"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("ec"))
    )
    dh = deg.groupBy("deg").agg(F.count(F.lit(1)).alias("nc"))
    grid = dh.select(F.col("deg").alias("k"))
    nk = (
        grid.join(F.broadcast(dh), dh["deg"] > grid["k"])
        .groupBy("k")
        .agg(F.sum("nc").alias("n_rich_nodes"))
    )
    ek = (
        grid.join(F.broadcast(edge_min), edge_min["m"] > grid["k"], "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("ec"), F.lit(0)).alias("n_rich_edges"))
    )
    nd = F.col("n_rich_nodes").cast("double")
    return (
        nk.join(ek, "k")
        .filter(F.col("n_rich_nodes") >= 2)
        .select(
            "k",
            "n_rich_nodes",
            "n_rich_edges",
            F.round(
                2.0 * F.col("n_rich_edges").cast("double") / (nd * (nd - 1.0)), 6
            ).alias("rc"),
        )
        .orderBy("k")
    )


_TRUSS_K = 4  # surviving edges sit in >= k-2 = 2 triangles of the truss
# Peel-round cap, mirrored by the oracle's unrolled CTEs. The cascade
# depth is data-dependent (measured: 7 rounds at sf0.01, 3 at sf0.1 —
# SMALLER graphs cascade deeper because each edge's support rests on
# fewer triangles); 12 gives margin, and non-convergence RAISES.
_TRUSS_ROUNDS = 12


def _edge_support(cur: DataFrame) -> DataFrame:
    """Per-edge triangle support WITHIN the given edge set — the
    degree-ordered triple list exploded to its three canonical edges and
    partial-aggregated (the g_edge_embeddedness shape)."""
    pair = lambda x, y: F.struct(  # noqa: E731
        F.least(x, y).alias("u"), F.greatest(x, y).alias("v")
    )
    return (
        triangle_triples(cur)
        .select(
            F.explode(
                F.array(
                    pair(F.col("a"), F.col("b")),
                    pair(F.col("a"), F.col("c")),
                    pair(F.col("b"), F.col("c")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("support"))
    )


def ktruss_edges(edges: DataFrame, k: int, rounds: int) -> DataFrame:
    """Iterative k-truss peel over an undirected edge list (u < v,
    distinct): drop every edge in fewer than k−2 triangles, recompute
    supports on the survivors, repeat to fixpoint. Returns the surviving
    edges with their final (within-truss) support. Raises when the round
    cap is hit without convergence — a silently partial peel would
    diverge from the oracle's unrolled replay (the components_of rule).
    Hand-pinned in tests/test_graph.py."""
    cur = edges.select("u", "v").localCheckpoint()
    n_cur = cur.count()
    for _ in range(rounds):
        kept = (
            cur.join(_edge_support(cur), ["u", "v"])
            .filter(F.col("support") >= k - 2)
            .select("u", "v")
            .localCheckpoint()
        )
        n_kept = kept.count()
        if n_kept == n_cur:
            cur = kept
            break
        cur, n_cur = kept, n_kept
    else:
        raise RuntimeError(
            f"ktruss_edges: peel did not converge in {rounds} rounds"
        )
    return cur.join(_edge_support(cur), ["u", "v"], "left_outer").fillna(
        0, ["support"]
    )


def g_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k = 4, _TRUSS_K) of the co-supply graph — the
    community-density backbone one notch above k-core (a k-truss is the
    maximal subgraph where every EDGE sits in ≥ k−2 triangles of the
    subgraph; cores bound degrees, trusses bound cohesion, and the truss
    survives the spurious-hub edges a core keeps). Computed by the
    standard support-peel fixpoint: recompute per-edge triangle support
    WITHIN the surviving subgraph, drop light edges, repeat — each
    deletion can cascade (an edge's support falls when its triangles'
    other edges peel), which is what a single-pass embeddedness filter
    gets wrong.

    Scale shape: each round is the O(m^1.5) degree-ordered wedge join +
    one edge-keyed partial agg, on a monotonically SHRINKING edge set;
    rounds are capped (raise on non-convergence, never a partial answer)
    and each round's frame is localCheckpointed against lineage blowup.

    Oracle: the peel unrolls to 12 (_TRUSS_ROUNDS) materialized CTE rounds —
    once Spark's fixpoint lands inside the cap, the oracle's extra rounds
    are no-ops, so both sides compute the identical fixpoint."""
    return (
        ktruss_edges(_cosupply_edges(spark, sf_dir), _TRUSS_K, _TRUSS_ROUNDS)
        .orderBy("u", "v")
    )


def _ktruss_oracle_sql() -> str:
    """DuckDB replay of g_ktruss: unrolled peel rounds, each MATERIALIZED
    (the Markov-walk CTE rule), each recomputing within-set supports via
    the symmetric wedge-closing join."""
    rounds = []
    for r in range(_TRUSS_ROUNDS):
        rounds.append(f"""sym{r} AS MATERIALIZED (
        SELECT u, v FROM e{r} UNION ALL SELECT v AS u, u AS v FROM e{r}
    ),
    s{r} AS MATERIALIZED (
        SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
        FROM e{r} e
        JOIN sym{r} a ON a.u = e.u
        JOIN sym{r} b ON b.u = e.v AND b.v = a.v
        GROUP BY e.u, e.v
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.u, e.v FROM e{r} e
        JOIN s{r} s ON s.u = e.u AND s.v = e.v
        WHERE s.support >= {_TRUSS_K - 2}
    )""")
    last = _TRUSS_ROUNDS
    chain = ",\n    ".join(rounds)
    return f"""
    WITH {_COSUPPLY_CTES},
    e0 AS MATERIALIZED (SELECT u, v FROM cos_edges),
    {chain},
    symf AS (
        SELECT u, v FROM e{last} UNION ALL SELECT v AS u, u AS v FROM e{last}
    ),
    sf AS (
        SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS support
        FROM e{last} e
        JOIN symf a ON a.u = e.u
        JOIN symf b ON b.u = e.v AND b.v = a.v
        GROUP BY e.u, e.v
    )
    SELECT e.u, e.v, coalesce(sf.support, 0) AS support
    FROM e{last} e
    LEFT JOIN sf ON sf.u = e.u AND sf.v = e.v
    ORDER BY e.u, e.v
"""


def g_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle (rectangle) census over the co-supply graph — the motif one
    step past triangles: a square a–b–c–d–a is two suppliers (a, c) tied
    through TWO disjoint intermediaries, the redundant-paths signal
    supply-chain risk teams read (a pair with many disjoint 2-paths
    survives any single intermediary's failure). Every 4-cycle is a pair
    of distinct common neighbors of an (unordered) endpoint pair, and
    each cycle is seen from exactly TWO such pairs — so
    n_squares = Σ_pairs C(cn, 2) / 2, an exact integer identity.

    Scale shape: the wedge generation is the sym-adjacency self-join
    grouped by endpoint pair — Σ_b C(deg_b, 2) wedge rows, the same
    quadratic-in-degree term every wedge algorithm pays, bounded here by
    the density-targeted edge rule (a raw hub graph would first cap
    degrees the way ``common_neighbor_pairs`` does); the census is one
    partial-aggregated groupBy + one scalar reduce. Pure integers."""
    return square_census(_cosupply_edges(spark, sf_dir))


def square_census(edges: DataFrame) -> DataFrame:
    """4-cycle census over an undirected edge list (u < v, distinct); see
    ``g_square_count``. Hand-pinned in tests/test_graph.py."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    # wedges centered at u: unordered endpoint pairs (v1 < v2)
    pair_cn = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.u") == F.col("b.u"))
        .filter(F.col("a.v") < F.col("b.v"))
        .groupBy(F.col("a.v").alias("x"), F.col("b.v").alias("y"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    return pair_cn.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("cn") >= 2).cast("long")).alias("n_pairs_multi"),
        F.expr("sum(cn * (cn - 1) div 2) div 2").alias("n_squares"),
    )


_SQUARE_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    sym AS (
        SELECT u, v FROM cos_edges
        UNION ALL
        SELECT v AS u, u AS v FROM cos_edges
    ),
    pair_cn AS (
        SELECT a.v AS x, b.v AS y, CAST(count(*) AS BIGINT) AS cn
        FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN cn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pairs_multi,
           CAST(sum(cn * (cn - 1) // 2) // 2 AS BIGINT) AS n_squares
    FROM pair_cn
"""


_RICH_CLUB_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    sym AS (SELECT u FROM cos_edges UNION ALL SELECT v FROM cos_edges),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY u),
    em AS (
        SELECT least(d1.deg, d2.deg) AS m, CAST(count(*) AS BIGINT) AS ec
        FROM cos_edges e
        JOIN deg d1 ON d1.node = e.u
        JOIN deg d2 ON d2.node = e.v
        GROUP BY 1
    ),
    dh AS (SELECT deg, CAST(count(*) AS BIGINT) AS nc FROM deg GROUP BY deg),
    grid AS (SELECT DISTINCT deg AS k FROM dh),
    nk AS (
        SELECT g.k, sum(dh.nc) AS n_rich_nodes
        FROM grid g JOIN dh ON dh.deg > g.k GROUP BY g.k
    ),
    ek AS (
        SELECT g.k, coalesce(sum(em.ec), 0) AS n_rich_edges
        FROM grid g LEFT JOIN em ON em.m > g.k GROUP BY g.k
    )
    SELECT k, CAST(n_rich_nodes AS BIGINT) AS n_rich_nodes,
           CAST(n_rich_edges AS BIGINT) AS n_rich_edges,
           round(2.0 * CAST(n_rich_edges AS DOUBLE)
                 / (CAST(n_rich_nodes AS DOUBLE)
                    * (CAST(n_rich_nodes AS DOUBLE) - 1.0)), 6) AS rc
    FROM nk JOIN ek USING (k)
    WHERE n_rich_nodes >= 2
    ORDER BY k
"""


QUERIES = {
    "g_pagerank": g_pagerank,
    "g_rich_club": g_rich_club,
    "g_powerlaw_fit": g_powerlaw_fit,
    "g_modularity": g_modularity,
    "g_conductance": g_conductance,
    "g_square_count": g_square_count,
    "g_ktruss": g_ktruss,
    "g_triangle_count": g_triangle_count,
    "g_common_neighbors": g_common_neighbors,
    "g_resource_allocation": g_resource_allocation,
    "g_bfs_hops": g_bfs_hops,
    "g_label_propagation": g_label_propagation,
    "g_kcore": g_kcore,
    "g_assortativity": g_assortativity,
    "g_clustering_coefficient": g_clustering_coefficient,
    "g_edge_embeddedness": g_edge_embeddedness,
    "g_connected_components": g_connected_components,
    "g_hits": g_hits,
    "g_max_spanning_forest": g_max_spanning_forest,
    "g_diameter_lb": g_diameter_lb,
}

# exact-decimal sufficient statistics; the r expression appears verbatim in
# num/den/guard, mirroring the Spark column expressions term for term
_ASSORT_MU = "(CAST(s1 AS DOUBLE) / (2 * m))"
_ASSORT_NUM = f"(CAST(p AS DOUBLE) / m - {_ASSORT_MU} * {_ASSORT_MU})"
_ASSORT_DEN = f"(CAST(s2 AS DOUBLE) / (2 * m) - {_ASSORT_MU} * {_ASSORT_MU})"
_ASSORT_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM cos_edges UNION ALL SELECT v FROM cos_edges
        ) GROUP BY node
    ), paired AS (
        SELECT a.d AS du, b.d AS dv
        FROM cos_edges e JOIN deg a ON a.node = e.u JOIN deg b ON b.node = e.v
    ), st AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               sum(CAST(du + dv AS DECIMAL(38,0))) AS s1,
               sum(CAST(du * du + dv * dv AS DECIMAL(38,0))) AS s2,
               sum(CAST(du * dv AS DECIMAL(38,0))) AS p
        FROM paired
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT n_nodes, m AS n_edges,
           round({_ASSORT_MU}, 6) AS mean_edge_degree,
           CASE WHEN {_ASSORT_DEN} != 0
           THEN round({_ASSORT_NUM} / {_ASSORT_DEN}, 6)
           END AS assortativity
    FROM st CROSS JOIN nn
"""

_CLUSTER_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT u AS node FROM cos_edges UNION ALL SELECT v FROM cos_edges
        ) GROUP BY node
    ), tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM cos_edges e1
        JOIN cos_edges e2 ON e2.u = e1.v
        JOIN cos_edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), tnodes AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT d.node AS s_suppkey, d.degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
           THEN round((2 * coalesce(t.n_triangles, 0))
                      / CAST(d.degree * (d.degree - 1) AS BIGINT), 6)
           END AS clustering
    FROM deg d LEFT JOIN tnodes t USING (node)
    ORDER BY clustering DESC NULLS LAST, s_suppkey ASC
    LIMIT {_TRI_TOP_K}
"""

_EMBED_ORACLE = f"""
    WITH {_COSUPPLY_CTES},
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM cos_edges e1
        JOIN cos_edges e2 ON e2.u = e1.v
        JOIN cos_edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ), per_edge AS (
        SELECT u, v, CAST(count(*) AS BIGINT) AS embeddedness FROM (
            SELECT a AS u, b AS v FROM tri
            UNION ALL SELECT a, c FROM tri
            UNION ALL SELECT b, c FROM tri
        ) GROUP BY 1, 2
    )
    SELECT e.u, e.v,
           CAST(coalesce(p.embeddedness, 0) AS BIGINT) AS embeddedness,
           coalesce(p.embeddedness, 0) = 0 AS weak_tie
    FROM cos_edges e LEFT JOIN per_edge p USING (u, v)
"""

ORACLE = {
    "g_assortativity": _ASSORT_ORACLE,
    "g_rich_club": _RICH_CLUB_ORACLE,
    "g_powerlaw_fit": _POWERLAW_ORACLE,
    "g_modularity": _modularity_oracle_sql(),
    "g_conductance": _conductance_oracle_sql(),
    "g_square_count": _SQUARE_ORACLE,
    "g_ktruss": _ktruss_oracle_sql(),
    "g_clustering_coefficient": _CLUSTER_ORACLE,
    "g_edge_embeddedness": _EMBED_ORACLE,
    "g_pagerank": _pagerank_oracle_sql(),
    "g_triangle_count": _TRI_ORACLE,
    "g_common_neighbors": _CN_ORACLE,
    "g_resource_allocation": _RA_ORACLE,
    "g_bfs_hops": _BFS_ORACLE,
    "g_label_propagation": _lpa_oracle_sql(),
    "g_kcore": _kcore_oracle_sql(),
    "g_connected_components": _CC_ORACLE,
    "g_hits": _HITS_ORACLE,
    "g_max_spanning_forest": _MSF_ORACLE,
    "g_diameter_lb": _DIAM_ORACLE,
}
