"""Co-occurrence and link-analysis operators: market-basket
association rules over order contents and HITS-style hub/authority
path counts on the customer-supplier bipartite graph.

Both are classic "what belongs together" analyses a pipeline runs on
transactional or interaction data — basket rules feed
recommendation/bundling decisions, hub/authority scores feed entity
importance ranking.

Determinism: every score is an exact-integer count or a single final
q6 division of HUGEINT/DECIMAL(38,0) folds (all operands positive, so
Spark ``div`` and DuckDB ``//`` agree); every LIMIT cut carries a
full-key tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import register, table

TOP_RULES = 20
HITS_TOP_K = 15

_BASKET_ORACLE = f"""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), nn AS (
      SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n FROM ob
    ), brand_n AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_b FROM ob GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM ob a JOIN ob b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT p.brand_a, p.brand_b, p.n_ab,
           CAST(CAST(p.n_ab AS HUGEINT) * 1000000 // nn.n AS BIGINT)
             AS support_q6,
           CAST(CAST(p.n_ab AS HUGEINT) * 1000000 // na.n_b AS BIGINT)
             AS confidence_q6,
           CAST(CAST(p.n_ab AS HUGEINT) * nn.n * 1000000
                // (CAST(na.n_b AS HUGEINT) * nb.n_b) AS BIGINT)
             AS lift_q6
    FROM pairs p
    JOIN brand_n na ON na.brand = p.brand_a
    JOIN brand_n nb ON nb.brand = p.brand_b
    CROSS JOIN nn
    ORDER BY lift_q6 DESC, brand_a, brand_b
    LIMIT {TOP_RULES}
    """


@register("orders_brand_basket_rules", oracle=_BASKET_ORACLE)
def orders_brand_basket_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{TOP_RULES} brand-pair association rules (support,
    confidence, lift) over order baskets.

    Itemset = the DISTINCT part brands inside one order. Support is
    pair-orders / all orders, confidence is pair-orders / antecedent
    orders, lift is the support ratio — all exact integer counts with
    one q6 division each at the end (positive operands).

    Scale: the brand lookup is the ordinary co-partitioned
    lineitem⋈part shuffle join; the pair build self-joins the
    per-order brand sets ON THE ORDER KEY, where the blow-up is
    bounded by the basket width (≤ C(brands-per-order, 2) per order —
    TPC-H orders carry ≤ 7 items), never all-pairs across orders.
    Pair counts map-side combine onto a ≤ C(|brands|, 2)-key domain
    (25 brands → ≤ 300 cells). The final ranking sorts that bounded
    rule frame, not data."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(
            F.col("l_orderkey").alias("okey"),
            F.col("p_brand").alias("brand"),
        )
        .distinct()
    )
    nn = ob.select(
        F.countDistinct("okey").cast("long").alias("n")
    )
    brand_n = ob.groupBy("brand").agg(F.count("*").alias("n_b"))
    a = ob.alias("a")
    b = ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("b.brand").alias("brand_b"),
        )
        .agg(F.count("*").alias("n_ab"))
    )
    na = brand_n.select(
        F.col("brand").alias("brand_a"), F.col("n_b").alias("na_n")
    )
    nb = brand_n.select(
        F.col("brand").alias("brand_b"), F.col("n_b").alias("nb_n")
    )
    return (
        pairs.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb), "brand_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 div n"
                " AS BIGINT)"
            ).alias("support_q6"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 div na_n"
                " AS BIGINT)"
            ).alias("confidence_q6"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n * 1000000"
                " div (CAST(na_n AS DECIMAL(38,0)) * nb_n) AS BIGINT)"
            ).alias("lift_q6"),
        )
        .orderBy(F.desc("lift_q6"), "brand_a", "brand_b")
        .limit(TOP_RULES)
    )


_HITS_ORACLE = f"""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), a1 AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS a1 FROM edges GROUP BY s
    ), h1 AS (
      SELECT e.c, CAST(SUM(CAST(a.a1 AS HUGEINT)) AS HUGEINT) AS h1
      FROM edges e JOIN a1 a ON a.s = e.s GROUP BY e.c
    ), a2 AS (
      SELECT e.s, CAST(SUM(h.h1) AS HUGEINT) AS a2
      FROM edges e JOIN h1 h ON h.c = e.c GROUP BY e.s
    )
    SELECT a2.s AS suppkey,
           a1.a1 AS authority_1,
           CAST(a2.a2 AS BIGINT) AS authority_2
    FROM a2 JOIN a1 ON a1.s = a2.s
    ORDER BY authority_2 DESC, suppkey
    LIMIT {HITS_TOP_K}
    """


@register("graph_hits_authority_counts", oracle=_HITS_ORACLE)
def graph_hits_authority_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{HITS_TOP_K} supplier authorities after two unnormalized
    HITS iterations (a = Aᵀh, h = Aa, h₀ ≡ 1) on the DISTINCT
    customer→supplier bipartite graph from order contents.

    Unnormalized HITS over a 0/1 adjacency is EXACT-INTEGER: the
    k-th authority score counts alternating paths of length 2k−1
    ending at the supplier, so ``authority_1`` is the supplier's
    customer degree and ``authority_2`` counts c′→s′→c→s walks. This
    sidesteps the float norm divisions whose cross-iteration drift
    would break hash parity — ranking is invariant to the norm.

    Scale: three co-keyed shuffle joins (edges⋈a1 on s, edges⋈h1 on
    c, the a2 groupBy on s) — each carries one BIGINT beside the
    edge keys, partials combine map-side, and no iteration grows
    state beyond one value per node. Folds are DECIMAL(38,0)/HUGEINT
    against hub-degree² blow-up; the final sort ranks the
    supplier-count frame only."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("c"),
            F.col("l_suppkey").alias("s"),
        )
        .distinct()
    )
    a1 = edges.groupBy("s").agg(F.count("*").alias("a1"))
    h1 = (
        edges.join(a1, "s")
        .groupBy("c")
        .agg(
            F.sum(F.expr("CAST(a1 AS DECIMAL(38,0))")).alias("h1")
        )
    )
    a2 = (
        edges.join(h1, "c")
        .groupBy("s")
        .agg(F.sum("h1").alias("a2"))
    )
    return (
        a2.join(a1, "s")
        .select(
            F.col("s").alias("suppkey"),
            F.col("a1").cast("long").alias("authority_1"),
            F.col("a2").cast("long").alias("authority_2"),
        )
        .orderBy(F.desc("authority_2"), "suppkey")
        .limit(HITS_TOP_K)
    )
