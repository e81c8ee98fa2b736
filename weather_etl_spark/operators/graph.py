"""Graph operators over the customer–supplier interaction graph
(SURVEY.md §2 B extension, round 6): degree distribution and an
iterative PageRank — the representative "iterative algorithm as
repeated join+aggregate" pattern (the same DataFrame-native shape
GraphX/GraphFrames lower to, without the library dependency).

The graph: an undirected bipartite edge (customer, supplier) for every
distinct pair that transacted (orders ⋈ lineitem). Node ids are packed
into one keyspace: customer c -> 2c, supplier s -> 2s + 1.

Determinism discipline: PageRank contributions are rounded to 6
decimals and summed as DECIMAL(18,6) (exact, order-independent), so
three iterations produce bit-identical doubles in Spark and DuckDB —
the §7.4 exact-avg pattern applied to an iterative fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from weather_etl_spark.checkpoints import (
    release_rdds,
    tracked_local_checkpoint,
)
from weather_etl_spark.io import read_table
from weather_etl_spark.registry import register

#: PageRank damping and unrolled iteration count (fixed so the oracle
#: can mirror the exact arithmetic).
_DAMP = 0.85
_ITERS = 3
#: Damping as an exact integer percentage (rule-8 remedy: the
#: whole rank loop runs in bigint micro-units, so no float ROUND
#: ever sees a half-boundary tie — measured divergence example:
#: ROUND(249e-6 / 2, 6) = 0.000124 in DuckDB's fp-scaled round vs
#: 0.000125 in Spark's HALF_UP-on-shortest-repr).
_D100 = round(_DAMP * 100)
_R100 = 100 - _D100

_EDGE_SQL = """
  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (customer, supplier) edge pairs, one direction."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected edge list (both directions) of the packed graph."""
    pairs = _pairs(spark, sf_dir)
    return pairs.union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


@register(
    "q_graph_degree",
    oracle=f"""
WITH e AS ({_EDGE_SQL}),
deg AS (
  SELECT u AS c, COUNT(*) AS degree
  FROM e GROUP BY u
)
SELECT CAST(degree AS BIGINT) AS degree,
       COUNT(*) AS n_customers
FROM deg WHERE c % 2 = 0
GROUP BY degree
""",
    doc="Degree distribution of the customer side of the transaction "
    "graph: how many distinct suppliers each customer transacted "
    "with, histogrammed — the first profiling query of any graph "
    "workload (skew detector for the iterative ops that follow).",
    scale_notes="One shuffle to DISTINCT the edge list (pairs, never "
    "fact rows), one tiny count-of-counts. Degree skew surfaced here "
    "decides whether PageRank needs salted aggregation downstream.",
)
def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One-directional pairs suffice: customer nodes (even ids) only
    # ever appear as the source side, so building + filtering the
    # doubled edge list would halve itself back — 2x the distinct work
    # for identical output.
    pairs = _pairs(spark, sf_dir)
    deg = pairs.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank SQL, mirroring the Spark
    arithmetic step for step (same roundings, same DECIMAL sums)."""
    sql = f"""
WITH e AS ({_EDGE_SQL}),
edges AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
),
outdeg AS (
  SELECT u, COUNT(*) AS outdeg FROM edges GROUP BY u
),
n AS (SELECT COUNT(*) AS n FROM outdeg),
pr0 AS (
  SELECT u, outdeg, (2000000 + n.n) // (2 * n.n) AS prm
  FROM outdeg CROSS JOIN n
)
"""
    prev = "pr0"
    for k in range(1, _ITERS + 1):
        sql += f""",
c{k} AS (
  SELECT edges.v AS u,
         (2 * {prev}.prm + {prev}.outdeg) // (2 * {prev}.outdeg) AS w
  FROM edges JOIN {prev} ON edges.u = {prev}.u
),
pr{k} AS (
  SELECT c{k}.u, outdeg.outdeg,
         CAST((2 * ({_R100} * 1000000 + {_D100} * SUM(w) * n.n)
               + 100 * n.n) // (200 * n.n) AS BIGINT) AS prm
  FROM c{k}
  JOIN outdeg ON c{k}.u = outdeg.u
  CROSS JOIN n
  GROUP BY c{k}.u, outdeg.outdeg, n.n
)
"""
        prev = f"pr{k}"
    sql += f"""
SELECT u AS node_id,
       CASE WHEN u % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
       CAST(prm AS DOUBLE) / 1000000.0 AS pr
FROM {prev}
ORDER BY pr DESC, node_id ASC
LIMIT 20
"""
    return sql


def pagerank_frame(undirected_edges: DataFrame) -> DataFrame:
    """Run the fixed-iteration PageRank loop over an (u, v) edge list
    (both directions present). Returns the full (u, outdeg, pr) frame;
    callers order/limit. Exposed separately so tests can differential-
    check the loop against a pure-python reference on synthetic graphs
    (the star-contract testing pattern)."""
    spark = undirected_edges.sparkSession
    # Materialize the loop-invariant frames ONCE (edge list + degrees):
    # without this every unrolled iteration re-derives them from the
    # base tables and the final plan re-executes the orders⋈lineitem
    # join per iteration (measured: 66 Exchanges unchecked vs 8 with
    # checkpoints at sf0.01). Same lifecycle protocol as
    # llm_components_starcontract: per-round state is checkpointed and
    # the previous round's blocks are released as soon as the next
    # round is materialized; the invariants stay pinned until the
    # harness's between-queries release.
    edges = undirected_edges.localCheckpoint()
    outdeg = (
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
        .localCheckpoint()
    )
    n = outdeg.agg(F.count(F.lit(1)).alias("n"))
    # The whole loop runs in EXACT bigint micro-units (1e-6 rank
    # units, half-up division) — the float-ROUND formulation could
    # land pr/outdeg exactly on a 6th-decimal half boundary, where
    # Spark and DuckDB round doubles in opposite directions (rule-8
    # exact-tie class).  Overflow bound: _D100 * s * n stays under
    # int64 while the graph's total rank mass (~1e6 micro) times node
    # count is below ~1e17 — comfortably true for any graph whose
    # node count fits an int32.
    pr = outdeg.crossJoin(F.broadcast(n)).select(
        "u",
        "outdeg",
        F.expr("(2000000 + n) div (2 * n)").alias("prm"),
    )
    prev_ids: set[int] = set()
    for it in range(_ITERS):
        contrib = edges.join(
            pr.select(F.col("u").alias("src"), "outdeg", "prm"),
            edges.u == F.col("src"),
        ).select(
            F.col("v").alias("u"),
            F.expr("(2 * prm + outdeg) div (2 * outdeg)").alias("w"),
        )
        pr = (
            contrib.groupBy("u")
            .agg(F.sum("w").cast("bigint").alias("s"))
            .join(outdeg, "u")
            .crossJoin(F.broadcast(n))
            .select(
                "u",
                "outdeg",
                F.expr(
                    f"(2 * ({_R100} * 1000000 + {_D100} * s * n)"
                    " + 100 * n) div (200 * n)"
                ).alias("prm"),
            )
        )
        if it < _ITERS - 1:
            # materialize this round, then drop round N-1's blocks
            pr, ids = tracked_local_checkpoint(pr)
            release_rdds(spark, prev_ids)
            prev_ids = ids
    return pr.select(
        "u",
        "outdeg",
        (F.col("prm").cast("double") / F.lit(1000000.0)).alias("pr"),
    )


@register(
    "q_graph_pagerank",
    oracle=_pagerank_oracle(),
    doc=f"PageRank ({_ITERS} iterations, d={_DAMP}) over the "
    "customer-supplier transaction graph, as pure DataFrame "
    "join+aggregate rounds — the canonical iterative-algorithm shape "
    "on Spark (what Pregel/GraphX lowers to). Top-20 nodes by rank "
    "with full (pr, node_id) tie-break; per-edge contributions are "
    "rounded and DECIMAL-summed so both engines produce bit-identical "
    "ranks (differential-checked against a pure-python reference on "
    "synthetic graphs in tests/test_llm_ops.py).",
    scale_notes="Per iteration: one shuffle of (dst, contribution) "
    "pairs — edge-count-sized, never node-state x degree. The rank "
    "frame re-partitions on node id once and reuses that partitioning "
    "across iterations; at 100 TB each iteration localCheckpoints "
    "like llm_components_starcontract to cut the lineage (3 fixed "
    "iterations here, so lineage stays shallow by construction). The "
    "1-row node-count crossJoin broadcasts.",
)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    pr = pagerank_frame(_edges(spark, sf_dir))
    return (
        pr.select(
            F.col("u").alias("node_id"),
            F.when(F.col("u") % 2 == 0, "cust").otherwise("supp").alias(
                "kind"
            ),
            "pr",
        )
        .orderBy(F.col("pr").desc(), F.col("node_id").asc())
        .limit(20)
    )


@register(
    "q_graph_triangles",
    oracle="""
WITH sup AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM sup a JOIN sup b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
  ) GROUP BY node
),
oriented AS (
  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.u ELSE e.v END AS s,
         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
              THEN e.v ELSE e.u END AS t
  FROM edges e
  JOIN deg du ON du.node = e.u
  JOIN deg dv ON dv.node = e.v
),
tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM oriented e1
  JOIN oriented e2 ON e2.s = e1.t
  JOIN oriented e3 ON e3.s = e1.s AND e3.t = e2.t
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM edges) AS n_edges,
       (SELECT COUNT(*) FROM tri) AS n_triangles
""",
    doc="Triangle counting over the part co-occurrence graph (parts "
    "appearing in the same order are adjacent — the sparse graph: "
    "the part universe grows with SF, so density FALLS as data "
    "grows, unlike the saturating supplier graph), using the "
    "DEGREE-ORIENTED wedge algorithm: each undirected edge is directed "
    "from its lower-(degree, id) endpoint to the higher, every wedge "
    "a->b->c is closed against the oriented edge a->c, and each "
    "triangle is counted exactly once. The orientation is the "
    "published trick that bounds out-degree by sqrt(2m), keeping the "
    "wedge join sub-quadratic on skewed (power-law) graphs where the "
    "naive formulation explodes on hub nodes.",
    scale_notes="Three shuffles on node keys; intermediate wedge "
    "volume is sum(outdeg^2) <= O(m^1.5) by the orientation bound — "
    "the reason this formulation (not u<v id ordering) is the 100 TB "
    "path: a hub with degree 10^6 contributes its SQUARE as wedges "
    "under id-ordering but only sqrt(2m)-bounded wedges when "
    "degree-oriented. Edge construction per order is C(k,2) on "
    "per-order supplier counts (bounded small by order shape).",
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    sup = li.select("l_orderkey", "l_partkey").distinct()
    a = sup.alias("a")
    b = sup.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.alias("du")
    dv = deg.alias("dv")
    e = edges.alias("e")
    lower_first = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("e.u") < F.col("e.v"))
    )
    oriented = (
        e.join(du, F.col("du.node") == F.col("e.u"))
        .join(dv, F.col("dv.node") == F.col("e.v"))
        .select(
            F.when(lower_first, F.col("e.u")).otherwise(F.col("e.v"))
            .alias("s"),
            F.when(lower_first, F.col("e.v")).otherwise(F.col("e.u"))
            .alias("t"),
        )
    )
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    e3 = oriented.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.s") == F.col("e1.t"))
        .join(
            e3,
            (F.col("e3.s") == F.col("e1.s"))
            & (F.col("e3.t") == F.col("e2.t")),
        )
    )
    return (
        deg.agg(F.count(F.lit(1)).alias("n_nodes"))
        .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


#: Quarterly part co-purchase subgraph (shared by q_graph_adamic_adar
#: and q_graph_lpa_communities — ONE definition so the two ops can
#: never silently analyze different graphs).
_QUARTER_UND_CTES = """li AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate <  TIMESTAMP '1996-04-01'
), edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), und AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL
  SELECT v AS src, u AS dst FROM edges
)"""


def _quarter_copurchase_und(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected (src, dst) edge list of the quarterly co-purchase
    graph — the DataFrame twin of ``_QUARTER_UND_CTES``."""
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    return edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).toDF("src", "dst")


@register(
    "q_graph_adamic_adar",
    oracle=f"""
WITH {_QUARTER_UND_CTES}, deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
), w AS (
  SELECT a.src AS x, b.src AS y, a.dst AS z
  FROM und a JOIN und b ON a.dst = b.dst AND a.src < b.src
), sc AS (
  SELECT x, y, COUNT(*) AS inter,
         CAST(SUM(CAST(ROUND(1.0 / ln(d.deg), 6) AS DECIMAL(18,6)))
              AS DOUBLE) AS aa
  FROM w JOIN deg d ON d.node = w.z
  GROUP BY x, y
)
SELECT sc.x AS part_a, sc.y AS part_b, sc.inter AS n_common,
       ROUND(CAST(sc.inter AS DOUBLE)
             / (dx.deg + dy.deg - sc.inter), 4) AS jaccard,
       ROUND(sc.aa, 4) AS adamic_adar
FROM sc
JOIN deg dx ON dx.node = sc.x
JOIN deg dy ON dy.node = sc.y
ORDER BY adamic_adar DESC, n_common DESC, part_a ASC, part_b ASC
LIMIT 25
""",
    doc="Link prediction on the quarterly part co-purchase graph: "
    "for every part pair sharing >= 1 neighbor, the common-neighbor "
    "count, neighbor-set Jaccard, and the Adamic-Adar index "
    "sum(1/ln(deg(z))) over shared neighbors z (the classic "
    "link-prediction score that discounts hub neighbors) — top 25. "
    "Per-term ROUND to 6 decimals + DECIMAL sum makes the float "
    "reduction order-independent; a shared neighbor necessarily has "
    "deg >= 2 so ln is never 0.",
    scale_notes="The wedge join (und x und on dst) is the one "
    "superlinear step: sum over nodes of deg^2. The quarter filter "
    "bounds it here; at 100 TB the standard mitigations compose — "
    "drop hub nodes above a degree cap before wedging (they "
    "contribute ~0 to Adamic-Adar by design) and salt the dst key. "
    "Everything else is degree-table hash joins on node ids.",
)
def q_graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    und = _quarter_copurchase_und(spark, sf_dir)
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).toDF(
        "node", "deg"
    )
    wa, wb = und.alias("wa"), und.alias("wb")
    wedges = wa.join(
        wb,
        (F.col("wa.dst") == F.col("wb.dst"))
        & (F.col("wa.src") < F.col("wb.src")),
    ).select(
        F.col("wa.src").alias("x"),
        F.col("wb.src").alias("y"),
        F.col("wa.dst").alias("z"),
    )
    sc = (
        wedges.join(deg, wedges.z == deg.node)
        .groupBy("x", "y")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.sum(
                F.round(F.lit(1.0) / F.log(F.col("deg")), 6).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("aa"),
        )
    )
    dx = deg.toDF("node_x", "deg_x")
    dy = deg.toDF("node_y", "deg_y")
    return (
        sc.join(dx, sc.x == dx.node_x)
        .join(dy, sc.y == dy.node_y)
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            F.col("inter").alias("n_common"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("inter")),
                4,
            ).alias("jaccard"),
            F.round("aa", 4).alias("adamic_adar"),
        )
        .orderBy(
            F.col("adamic_adar").desc(),
            F.col("n_common").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(25)
    )


#: Synchronous label-propagation rounds (fixed so the oracle unrolls
#: the identical iteration count).
_LPA_ROUNDS = 3



def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        "WITH " + _QUARTER_UND_CTES,
        "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM und)",
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""r{r} AS (
  SELECT e.src AS node, l.lbl, COUNT(*) AS c
  FROM und e JOIN l{r - 1} l ON l.node = e.dst
  GROUP BY e.src, l.lbl
), l{r} AS (
  SELECT node, lbl FROM (
    SELECT node, lbl,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY c DESC, lbl ASC) AS rn
    FROM r{r}) t
  WHERE rn = 1
)""")
    return (
        ",\n".join(parts)
        + f"""
SELECT lbl AS community, COUNT(*) AS n_members, MIN(node) AS min_node
FROM l{rounds}
GROUP BY lbl
ORDER BY n_members DESC, community ASC
LIMIT 25
"""
    )


@register(
    "q_graph_lpa_communities",
    oracle=_lpa_oracle(),
    doc="Community detection by synchronous label propagation on the "
    "quarterly part co-purchase graph: labels initialize to node "
    "ids, and for 3 synchronous rounds every node adopts the MODE "
    "of its neighbors' labels (ties to the smallest label — the "
    "standard deterministic LPA tie-break); output is the top-25 "
    "communities by size. Fixed unrolled rounds make the iteration "
    "exactly mirrorable in SQL, the same discipline as "
    "q_graph_pagerank's 3 damped iterations.",
    scale_notes="Each round is one edges-to-labels hash join (labels "
    "are node-sized, edges edge-sized) + a (node, label) "
    "map-combined count + a per-node argmax window — the canonical "
    "iterate-as-join-aggregate shape GraphX lowers to. Rounds are "
    "fixed, not data-dependent; at 100 TB labels localCheckpoint "
    "per round (the star_contract pattern) to cut lineage.",
)
def q_graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    und, und_ids = tracked_local_checkpoint(
        _quarter_copurchase_und(spark, sf_dir)
    )
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("lbl").asc()
    )
    for _r in range(_LPA_ROUNDS):
        counted = (
            und.join(
                labels.select(
                    F.col("node").alias("dst"), F.col("lbl")
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            counted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
        )
    out = (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
        )
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
        .limit(25)
    )
    out = out.localCheckpoint()
    release_rdds(spark, und_ids)
    return out


_KCORE_K = 30
_KCORE_ROUNDS = 3


@register(
    "q_graph_kcore",
    oracle=f"""
WITH pairs AS (
  SELECT DISTINCT o.o_custkey * 2 AS u, l.l_suppkey * 2 + 1 AS v
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), e0 AS (
  SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
), n1 AS (
  SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e1 AS (
  SELECT e.u, e.v FROM e0 e
  JOIN n1 a ON e.u = a.u JOIN n1 b ON e.v = b.u
), n2 AS (
  SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e2 AS (
  SELECT e.u, e.v FROM e1 e
  JOIN n2 a ON e.u = a.u JOIN n2 b ON e.v = b.u
), n3 AS (
  SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= {_KCORE_K}
), e3 AS (
  SELECT e.u, e.v FROM e2 e
  JOIN n3 a ON e.u = a.u JOIN n3 b ON e.v = b.u
)
SELECT 1 AS round, (SELECT CAST(COUNT(*) AS BIGINT) FROM n1) AS n_nodes,
       (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM e1) AS n_edges
UNION ALL
SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM n2),
       (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM e2)
UNION ALL
SELECT 3, (SELECT CAST(COUNT(*) AS BIGINT) FROM n3),
       (SELECT CAST(COUNT(*)/2 AS BIGINT) FROM e3)
ORDER BY round
""",
    doc=f"k-core decomposition ({_KCORE_ROUNDS} unrolled peeling "
    f"rounds, k={_KCORE_K}) on the shared customer-supplier "
    "bipartite graph: each round drops nodes with degree < k and "
    "the edges touching them, converging toward the maximal "
    "subgraph where every node keeps >= k neighbors — the standard "
    "graph-density screen (community cores, spam/bot rings). "
    "Per-round (surviving nodes, surviving undirected edges) is "
    "the declared, exactly-oracled output.",
    scale_notes="Each round = one degree aggregate + two semi-join "
    "edge restrictions, all equi hash joins on node ids — the "
    "q_graph_pagerank iteration shape with HAVING instead of a "
    "rank update. Unbounded peeling at 100 TB runs the same round "
    "body to fixpoint with per-round localCheckpoint + release "
    "(the llm_components_starcontract pattern); degree skew is "
    "bounded because each round's input shrinks monotonically.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize each round (the pagerank_frame protocol): without the
    # per-round localCheckpoint the unioned per-round stats re-execute
    # the whole prefix of peeling joins (O(rounds^2) over the base
    # orders⋈lineitem join — measured 14.7 s vs ~1 s at sf0.1).
    cur, prev_ids = tracked_local_checkpoint(_edges(spark, sf_dir))
    out_rows = []
    for rnd in range(1, _KCORE_ROUNDS + 1):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("u")
        )
        nxt, ids = tracked_local_checkpoint(
            cur.join(keep, "u", "left_semi").join(
                keep.select(F.col("u").alias("v")), "v", "left_semi"
            )
        )
        # n_nodes counts the HAVING survivors (a survivor may still
        # lose its last edge this round — it stays counted until the
        # next round's degree pass, exactly as the unrolled oracle).
        # The 1-row stats frame is checkpointed EAGERLY so it is
        # materialized before the round's input blocks are released.
        stats = (
            keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(
                nxt.agg(
                    (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges")
                )
            )
            .select(F.lit(rnd).alias("round"), "n_nodes", "n_edges")
            .localCheckpoint()
        )
        out_rows.append(stats)
        release_rdds(spark, prev_ids)
        cur, prev_ids = nxt, ids
    out = out_rows[0]
    for s in out_rows[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


@register(
    "q_graph_assortativity",
    oracle=f"""
WITH e AS ({_EDGE_SQL}),
edges AS (
  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
), deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u
), pairs AS (
  SELECT du.d AS x, dv.d AS y
  FROM edges JOIN deg du ON edges.u = du.u
             JOIN deg dv ON edges.v = dv.u
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
         CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
         CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
         CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy,
         CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy
  FROM pairs
)
SELECT CAST(m / 2 AS BIGINT) AS n_edges,
       ROUND((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / SQRT((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                    * (m * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * sy)), 4) AS assortativity
FROM s
""",
    doc="Degree assortativity of the customer-supplier transaction "
    "graph: the Pearson correlation of endpoint degrees over every "
    "edge (both orientations, the Newman definition) — positive "
    "means hubs transact with hubs, negative means hub-leaf "
    "(bipartite graphs typically skew negative). Exact integer "
    "sufficient statistics (DECIMAL(38,0) sums of degree "
    "products); one float expression at the head.",
    scale_notes="Distinct edges once, degrees once, two hash joins "
    "edge->degree keyed on node id, then a mergeable 6-tuple "
    "reduction — the q_agg_anova two-level shape on the edge "
    "list. Degree skew concentrates the join on hub keys; at "
    "100 TB the deg table pre-aggregates so hubs carry one row "
    "each.",
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _pairs(spark, sf_dir)
    edges = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = edges.groupBy("u").agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    pairs = (
        edges.join(deg.withColumnRenamed("u", "n1"), F.col("u") == F.col("n1"))
        .select(F.col("v"), F.col("d").alias("x"))
        .join(
            deg.select(
                F.col("u").alias("n2"), F.col("d").alias("y")
            ),
            F.col("v") == F.col("n2"),
        )
        .select("x", "y")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
    )
    num = F.col("m") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (
            F.col("m") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("m") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return s.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        F.round(num / den, 4).alias("assortativity"),
    )
