"""Relational graph analytics over the star-schema fixtures.

The reference has no graph surface (SURVEY.md §2 — none); these are
north-star extensions in the same family as the connected-components
dedup clusterers (``dedup.py``): graphs *derived from* relational
tables, processed with joins and aggregates so Catalyst/AQE keep
owning the physical plan. Two classic kernels:

- triangle counting on a part co-occurrence (market-basket) graph,
  with the oriented-edge join pattern that counts each triangle
  exactly once;
- weighted PageRank on the supplier-nation -> customer-nation trade
  graph, fixed-iteration, as the canonical join-agg iterative loop.

Both carry full DuckDB oracles (the PageRank one chains one CTE per
iteration), so the driver gets hash rows, not rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

# Orders with more than this many distinct parts are dropped before
# pairing: a k-item basket contributes k*(k-1)/2 pair rows, so a few
# mega-baskets would dominate the self-join (the same quadratic-skew
# guard as dedup.py's MAX_SHINGLE_DF). TPC-H orders have <= 7 items;
# the cap exists for the 100 TB case, where baskets are unbounded.
MAX_BASKET = 50

# An edge requires the pair to co-occur in >= MIN_SUPPORT distinct
# orders — the standard association-rule support floor; it also keeps
# the edge set (and the triangle join above it) sparse.
MIN_SUPPORT = 2


def _cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented edge list u < v of parts co-purchased in >= 2 orders.

    One self-join co-partitioned on l_orderkey (a single shuffle —
    both sides share the exchange), then support aggregation on the
    pair. Orientation by key gives every unordered pair exactly one
    row, which is what makes the triangle join count each triangle
    once; at 100 TB orient by (degree, key) instead — it bounds the
    per-node join fan-out by the arboricity — at the cost of a
    degree-computation pass.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sizes = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    li = li.join(sizes.where(F.col("n_parts") <= MAX_BASKET), "l_orderkey")
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v")
    )
    pairs = a.join(b, ["ok"]).where(F.col("u") < F.col("v"))
    return (
        pairs.groupBy("u", "v")
        .agg(F.countDistinct("ok").alias("support"))
        .where(F.col("support") >= MIN_SUPPORT)
        .select("u", "v")
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation on the co-purchase graph.

    Triangles come from the classic DEGREE-ORDERED wedge join: orient
    every edge from the (degree, key)-smaller endpoint to the larger,
    form wedges only at each triangle's π-least corner, and close them
    against the oriented edge list — each triangle matches exactly
    once, and every node's out-degree (hence its wedge fan-out) is
    bounded by the graph's arboricity instead of its raw degree, which
    is what keeps the wedge space linear-ish on skewed graphs (the
    hub-graph measurement is in SCALE.md "Measured headroom"; key-only
    orientation lets one hub own O(deg²) wedges). The triangle SET is
    orientation-invariant, so the oracle needs no knowledge of the
    orientation. Corners credit via union-all unpivot, one final
    groupBy.
    """
    e = _cooccurrence_edges(spark, sf_dir).persist()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dt"),
    ).persist()
    p1 = o.select("s", F.col("t").alias("b"), F.col("dt").alias("db"))
    p2 = o.select("s", F.col("t").alias("c"), F.col("dt").alias("dc"))
    wedges = p1.join(p2, "s").where(
        (F.col("db") < F.col("dc"))
        | ((F.col("db") == F.col("dc")) & (F.col("b") < F.col("c")))
    )
    # π(b) < π(c), so if the closing edge exists it is oriented b→c.
    tri = wedges.join(
        o.select(F.col("s").alias("b"), F.col("t").alias("c")), ["b", "c"]
    )
    corners = (
        tri.select(F.col("s").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return (
        corners.groupBy("part")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), "part")
    )


TRIANGLE_COUNT_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  QUALIFY count(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey) <= 50
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(DISTINCT a.l_orderkey) >= 2
), tri AS (
  SELECT e1.u AS tu, e1.v AS tv, e2.v AS tw
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), corners AS (
  SELECT tu AS part FROM tri
  UNION ALL SELECT tv FROM tri
  UNION ALL SELECT tw FROM tri
)
SELECT part, count(*) AS n_triangles
FROM corners GROUP BY part
ORDER BY n_triangles DESC, part
"""

DAMPING = 0.85
PR_ITERS = 3


def pagerank_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 3 fixed iterations, on the nation trade
    graph (supplier nation -> customer nation, edge weight = lineitem
    count).

    The loop body is the canonical distributed PageRank step: ranks ⋈
    edges on src (broadcast — ranks is |nodes| rows), mass aggregation
    on dst, then the damping update. Nothing iterates on the driver
    except the fixed loop counter; each iteration is one shuffle on
    dst. Dangling mass is not redistributed (suppliers' nations all
    have out-edges here); production adds the dangling term as one
    scalar agg per iteration. Scores rounded to 6 decimals for
    cross-engine float parity.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )
    outw = edges.groupBy("src").agg(F.sum("w").alias("wtot"))
    norm = (
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("wtot")).alias("p"))
        .persist()
    )
    nodes = (
        norm.select(F.col("src").alias("node"))
        .union(norm.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()  # graph-metadata scalar; |nations| rows
    ranks = nodes.select("node", F.lit(1.0 / n).alias("pr"))
    base = 0.15 / n
    for _ in range(PR_ITERS):
        mass = (
            norm.join(F.broadcast(ranks), norm.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("p")).alias("mass"))
        )
        ranks = nodes.join(mass, nodes.node == mass.dst, "left").select(
            "node",
            (F.lit(base) + F.lit(DAMPING) * F.coalesce("mass", F.lit(0.0))).alias(
                "pr"
            ),
        )
    return (
        ranks.select("node", F.round("pr", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
    )


PAGERANK_ORACLE = """
WITH edges AS (
  SELECT sp.s_nationkey AS src, c.c_nationkey AS dst,
         count(*)::DOUBLE AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier sp ON l.l_suppkey = sp.s_suppkey
  GROUP BY 1, 2
), norm AS (
  SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS p FROM edges
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), meta AS (
  SELECT count(*)::DOUBLE AS n FROM nodes
), it0 AS (
  SELECT node, 1.0 / meta.n AS pr FROM nodes CROSS JOIN meta
), it1 AS (
  SELECT nd.node, 0.15 / meta.n + 0.85 * COALESCE(m.mass, 0) AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT norm.dst, sum(prev.pr * norm.p) AS mass
             FROM norm JOIN it0 prev ON norm.src = prev.node
             GROUP BY norm.dst) m ON m.dst = nd.node
), it2 AS (
  SELECT nd.node, 0.15 / meta.n + 0.85 * COALESCE(m.mass, 0) AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT norm.dst, sum(prev.pr * norm.p) AS mass
             FROM norm JOIN it1 prev ON norm.src = prev.node
             GROUP BY norm.dst) m ON m.dst = nd.node
), it3 AS (
  SELECT nd.node, 0.15 / meta.n + 0.85 * COALESCE(m.mass, 0) AS pr
  FROM nodes nd CROSS JOIN meta
  LEFT JOIN (SELECT norm.dst, sum(prev.pr * norm.p) AS mass
             FROM norm JOIN it2 prev ON norm.src = prev.node
             GROUP BY norm.dst) m ON m.dst = nd.node
)
SELECT node, round(pr, 6) AS pagerank
FROM it3
ORDER BY pagerank DESC, node
"""


TOP_RULES = 10


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over co-purchases: for every directed
    rule u -> v with pair support >= MIN_SUPPORT, confidence
    (= s(u,v)/s(u)) and lift (= s(u,v)*N / (s(u)*s(v))), top-10 by
    lift — the classic "customers who bought X also bought Y" output.

    Everything that determines the ranking is integer: supports are
    distinct-order counts and the lift comparison key is the exact
    rational (num = s(u,v)*N, den = s(u)*s(v)) evaluated as one IEEE
    division of int64s — bit-identical on any engine — with (u, v) as
    the total-order tiebreak; confidence/lift are rounded only for
    display. Scale shape: the pair table reuses the single
    order-keyed self-join of the triangle counter (quadratic-skew
    guard via MAX_BASKET), item supports are one narrow aggregate
    that broadcasts onto the pair table, and the top-10 is a
    TakeOrdered — no global sort.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sizes = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    li = li.join(sizes.where(F.col("n_parts") <= MAX_BASKET), "l_orderkey").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("s_item")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, ["ok"])
        .where(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("s_pair"))
        .where(F.col("s_pair") >= MIN_SUPPORT)
    )
    su = item.select(F.col("item").alias("u"), F.col("s_item").alias("s_u"))
    sv = item.select(F.col("item").alias("v"), F.col("s_item").alias("s_v"))
    rules = (
        pairs.join(F.broadcast(su), "u")
        .join(F.broadcast(sv), "v")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "u",
            "v",
            "s_pair",
            "s_u",
            "s_v",
            (F.col("s_pair") * F.col("n_orders")).alias("lift_num"),
            (F.col("s_u") * F.col("s_v")).alias("lift_den"),
        )
    )
    ranked = rules.orderBy(
        (F.col("lift_num") / F.col("lift_den")).desc(), "u", "v"
    ).limit(TOP_RULES)
    return ranked.select(
        "u",
        "v",
        "s_pair",
        F.round(F.col("s_pair") / F.col("s_u"), 4).alias("confidence"),
        F.round(F.col("lift_num") / F.col("lift_den"), 4).alias("lift"),
    )


MARKET_BASKET_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  QUALIFY count(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey)
          <= {MAX_BASKET}
), item AS (
  SELECT l_partkey AS itm, count(*) AS s_item FROM li GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS s_pair
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey != b.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {MIN_SUPPORT}
), rules AS (
  SELECT p.u, p.v, p.s_pair, iu.s_item AS s_u, iv.s_item AS s_v,
         p.s_pair * (SELECT count(DISTINCT l_orderkey) FROM li) AS lift_num,
         iu.s_item * iv.s_item AS lift_den
  FROM pairs p
  JOIN item iu ON p.u = iu.itm
  JOIN item iv ON p.v = iv.itm
)
SELECT u, v, s_pair,
       round(s_pair * 1.0 / s_u, 4) AS confidence,
       round(lift_num * 1.0 / lift_den, 4) AS lift
FROM rules
ORDER BY lift_num * 1.0 / lift_den DESC, u, v
LIMIT {TOP_RULES}
"""


def copurchase_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph — the first
    diagnostic run on ANY derived graph before spending on triangle /
    clustering passes: a heavy-tailed degree histogram says the
    oriented joins need the degree-based orientation (see
    ``_cooccurrence_edges``) and sizes their fan-out.

    Degrees come from the UNDIRECTED view (each oriented edge credits
    both endpoints via a union-all, no explode); the histogram then
    aggregates |nodes| rows to |distinct degrees| rows. Everything
    partial-aggregates map-side; output is histogram-scale.
    """
    e = _cooccurrence_edges(spark, sf_dir)
    endpoints = e.select(F.col("u").alias("part")).unionAll(
        e.select(F.col("v").alias("part"))
    )
    degrees = endpoints.groupBy("part").agg(F.count("*").alias("degree"))
    return (
        degrees.groupBy("degree")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("part").alias("example_part"),
        )
        .orderBy("degree")
    )


DEGREE_DISTRIBUTION_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  QUALIFY count(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey) <= 50
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY u, v
  HAVING count(DISTINCT a.l_orderkey) >= 2
), endpoints AS (
  SELECT u AS part FROM e UNION ALL SELECT v FROM e
), degrees AS (
  SELECT part, count(*) AS degree FROM endpoints GROUP BY part
)
SELECT degree, count(*) AS n_nodes, min(part) AS example_part
FROM degrees
GROUP BY degree
ORDER BY degree
"""


_KCORE_K = 3
_KCORE_ROUNDS = 3


def kcore_copurchase_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph by iterative peeling: each
    round drops nodes of degree < 3 and the edges they carry, the
    standard dense-subgraph / spam-cluster extractor. Emits the
    per-round shrinkage trace (nodes and edges alive) — the artifact
    an analyst reads to pick k — over a FIXED 3-round unroll; the
    rounds are few because each pass removes whole low-degree fringes
    at once.

    Scale shape: every round is two left-semi joins against the
    just-computed alive-node set plus one degree aggregate — the same
    per-round cost as one dedup_clusters_cc iteration, and the same
    lineage rule applies: each round's frontier is cut with an EAGER
    ``localCheckpoint`` (lazy persist left six lazy count branches
    re-deriving the whole peel chain — measured 14 s vs 3 s at sf0.1;
    SCALE.md "iterative DataFrame loop" rule). Only the six trace
    scalars cross to the driver (the CC convergence-witness pattern);
    the 3-row trace is rebuilt from them.
    """
    edges = _cooccurrence_edges(spark, sf_dir).localCheckpoint()
    trace_rows = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        alive = (
            deg.where(F.col("deg") >= _KCORE_K).select("node").localCheckpoint()
        )
        edges = (
            edges.join(alive.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
            .localCheckpoint()
        )
        trace_rows.append((rnd, alive.count(), edges.count()))
    return spark.createDataFrame(
        trace_rows, "round INT, n_nodes BIGINT, n_edges BIGINT"
    ).orderBy("round")


KCORE_ORACLE = f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  QUALIFY count(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey) <= 50
), e0 AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(DISTINCT a.l_orderkey) >= 2
), d1 AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0) GROUP BY 1
), a1 AS (SELECT node FROM d1 WHERE deg >= {_KCORE_K}),
e1 AS (
  SELECT e0.u, e0.v FROM e0
  WHERE u IN (SELECT node FROM a1) AND v IN (SELECT node FROM a1)
), d2 AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1
), a2 AS (SELECT node FROM d2 WHERE deg >= {_KCORE_K}),
e2 AS (
  SELECT e1.u, e1.v FROM e1
  WHERE u IN (SELECT node FROM a2) AND v IN (SELECT node FROM a2)
), d3 AS (
  SELECT node, count(*) AS deg FROM (
    SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1
), a3 AS (SELECT node FROM d3 WHERE deg >= {_KCORE_K}),
e3 AS (
  SELECT e2.u, e2.v FROM e2
  WHERE u IN (SELECT node FROM a3) AND v IN (SELECT node FROM a3)
)
SELECT 1 AS round, (SELECT count(*) FROM a1) AS n_nodes,
       (SELECT count(*) FROM e1) AS n_edges
UNION ALL
SELECT 2, (SELECT count(*) FROM a2), (SELECT count(*) FROM e2)
UNION ALL
SELECT 3, (SELECT count(*) FROM a3), (SELECT count(*) FROM e3)
ORDER BY round
"""


_WEDGE_DEG_CAP = 512


def link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the co-purchase graph: the
    top-15 part pairs that are NOT connected but share the most
    neighbors — the classic 'frequently bought together' candidate
    generator (and the baseline every learned link predictor is
    measured against).

    Scale shape: symmetric adjacency → one two-hop self-join through
    the shared neighbor (the wedge join triangle counting already
    uses), a map-side combinable wedge count per pair, one left-anti
    join against the existing edge list, and TakeOrdered for the
    top-15. The deterministic (cn desc, u, v) total order pins the
    cut. Hub guard: only centers with degree ≤ ``_WEDGE_DEG_CAP``
    enumerate wedges — a center's wedge space is deg², so skewed hubs
    are what explode the join (SCALE.md "Measured headroom" records a
    27× wedge-space cut from exactly this cap on a 1M-node hub graph);
    a node co-purchased with everything predicts nothing specific, so
    dropping hub CENTERS (their pairs still form through other shared
    neighbors) is the semantic as well as the physical choice. The
    fixture graph's max degree sits far below the cap, so the cap is
    exercised as a plan shape and a no-op filter here.
    """
    e = _cooccurrence_edges(spark, sf_dir).persist()
    adj = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    low = (
        adj.groupBy("u")
        .agg(F.count("*").alias("deg"))
        .where(F.col("deg") <= _WEDGE_DEG_CAP)
        .select("u")
    )
    adj_c = adj.join(low, "u", "left_semi")
    h1 = adj_c.select(F.col("v").alias("a"), F.col("u").alias("x"))
    h2 = adj_c.select(F.col("u").alias("x"), F.col("v").alias("b"))
    wedges = (
        h1.join(h2, "x")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("cn"))
    )
    candidates = wedges.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return candidates.orderBy(
        F.col("cn").desc(), F.col("a").asc(), F.col("b").asc()
    ).limit(15)


LINK_PREDICTION_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem
  QUALIFY count(DISTINCT l_partkey) OVER (PARTITION BY l_orderkey) <= 50
), e AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING count(DISTINCT a.l_orderkey) >= 2
), adj AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), low AS (
  SELECT u FROM adj GROUP BY u HAVING count(*) <= 512
), adj_c AS (
  SELECT adj.u, adj.v FROM adj WHERE u IN (SELECT u FROM low)
), wedges AS (
  SELECT h1.v AS a, h2.v AS b, count(*) AS cn
  FROM adj_c h1 JOIN adj_c h2 ON h1.u = h2.u
  WHERE h1.v < h2.v
  GROUP BY 1, 2
)
SELECT a, b, cn FROM wedges w
WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = w.a AND e.v = w.b)
ORDER BY cn DESC, a, b
LIMIT 15
"""


QUERIES: dict = {
    "market_basket_rules": (market_basket_rules, MARKET_BASKET_ORACLE),
    "copurchase_degree_distribution": (
        copurchase_degree_distribution,
        DEGREE_DISTRIBUTION_ORACLE,
    ),
    "triangle_count_copurchase": (triangle_count, TRIANGLE_COUNT_ORACLE),
    "pagerank_nation_trade": (pagerank_nation_trade, PAGERANK_ORACLE),
    "kcore_copurchase_peel": (kcore_copurchase_peel, KCORE_ORACLE),
    "link_prediction_common_neighbors": (
        link_prediction_common_neighbors,
        LINK_PREDICTION_ORACLE,
    ),
}
