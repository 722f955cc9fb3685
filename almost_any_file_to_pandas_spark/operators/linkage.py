"""Blocked fuzzy record linkage (entity resolution) across two entity
tables — the dedup-across-sources primitive of a data-integration
pipeline (reference scope: none — extension surface; the reference,
``/root/reference/main.py``, only ingests single files).

The 100 TB shape is the point: naive fuzzy linkage is an O(n·m) cross
join. Blocking bounds it — candidates must agree on cheap deterministic
keys (here: nation + the last two name characters), so the join is an
ordinary *equi-join* on the block keys and the expensive edit-distance
predicate runs only inside blocks. Block volume is Σ|C_b|×|S_b|; with
k uniform blocks that is n·m/k, and the small side broadcasts, so the
big side never shuffles at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.dedup import (
    _COMPONENT_CTE,
    connected_components,
)
from almost_any_file_to_pandas_spark.plans import register, table, table_wide

LINK_MAX_DIST = 6  # prefix swap costs 5 ("Customer"->"Supplier"); +1 fuzz

# The fuzzy match pairs as an entity graph, the component closure's
# ``pairs`` input: customers on even node ids, suppliers on odd.
_LINK_PAIRS_CTE = f"""
    pairs AS (
      SELECT 2 * c.c_custkey AS u, 2 * s.s_suppkey + 1 AS v
      FROM customer c JOIN supplier s
        ON c.c_nationkey = s.s_nationkey
       AND right(c.c_name, 2) = right(s.s_name, 2)
      WHERE levenshtein(c.c_name, s.s_name) <= {LINK_MAX_DIST}
    )"""


@register(
    "link_customer_supplier_fuzzy",
    oracle=f"""
    SELECT c.c_custkey, s.s_suppkey,
           CAST(levenshtein(c.c_name, s.s_name) AS BIGINT) AS name_dist,
           round(abs(c.c_acctbal - s.s_acctbal), 2) AS bal_gap
    FROM customer c JOIN supplier s
      ON c.c_nationkey = s.s_nationkey
     AND right(c.c_name, 2) = right(s.s_name, 2)
    WHERE levenshtein(c.c_name, s.s_name) <= {LINK_MAX_DIST}
    """,
)
def link_customer_supplier_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer↔supplier linkage: block on (nationkey, name suffix),
    match when edit distance ≤ LINK_MAX_DIST. The entity-name prefixes
    differ by 5 edits, so 6 admits at most one further digit edit —
    "the same id, possibly one typo" in this synthetic naming scheme.

    Plan: supplier (the small side) broadcasts; the blocked equi-join
    keeps levenshtein off the hot path until candidates are bounded.
    """
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        F.expr("right(c_name, 2)").alias("c_sfx"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        "s_nationkey",
        "s_acctbal",
        F.expr("right(s_name, 2)").alias("s_sfx"),
    )
    joined = cust.join(
        F.broadcast(supp),
        (F.col("c_nationkey") == F.col("s_nationkey"))
        & (F.col("c_sfx") == F.col("s_sfx")),
    )
    dist = F.levenshtein(F.col("c_name"), F.col("s_name"))
    return joined.filter(dist <= LINK_MAX_DIST).select(
        "c_custkey",
        "s_suppkey",
        dist.cast("bigint").alias("name_dist"),
        F.round(F.abs(F.col("c_acctbal") - F.col("s_acctbal")), 2).alias(
            "bal_gap"
        ),
    )


@register(
    "link_entity_clusters",
    oracle=f"""
    WITH RECURSIVE {_LINK_PAIRS_CTE}, {_COMPONENT_CTE}
    SELECT u AS node_id,
           CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS entity_type,
           lbl AS component_id
    FROM comp
    """,
)
def link_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution completed: the fuzzy match pairs become an
    entity GRAPH (customers on even node ids, suppliers on odd — the
    standard disjoint-namespace encoding) and transitive closure
    groups records that refer to the same real-world entity even when
    they never matched each other directly (A↔B and B↔C chain into
    one cluster). This match→cluster step is what turns pairwise
    linkage into deduplicated entities; a golden-record pass would
    pick one survivor per component_id.

    Plan: the blocked broadcast linkage join (above) emits the pairs;
    clustering is the dedup family's :func:`connected_components`
    (O(log n) rounds on any graph, a driver union-find on small
    ones). The oracle closes the identical edge set with the shared
    recursive CTE — the algorithm-independent component definition —
    so the row set is an equivalence proof, like the
    ``connected_components_alternating`` gate row.
    """
    pairs = link_customer_supplier_fuzzy(spark, sf_dir)
    edges = pairs.select(
        (2 * F.col("c_custkey")).alias("u"),
        (2 * F.col("s_suppkey") + 1).alias("v"),
    )
    labels = connected_components(edges)
    return labels.select(
        F.col("u").alias("node_id"),
        F.when(F.col("u") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("entity_type"),
        F.col("lbl").alias("component_id"),
    )


@register(
    "link_golden_records",
    oracle=f"""
    WITH RECURSIVE {_LINK_PAIRS_CTE}, {_COMPONENT_CTE}, members AS (
      SELECT u AS node_id, lbl AS component_id FROM comp
    ), attrs AS (
      SELECT 2 * c_custkey AS node_id, c_name AS name, c_acctbal AS bal
      FROM customer
      UNION ALL
      SELECT 2 * s_suppkey + 1, s_name, s_acctbal FROM supplier
    ), enriched AS (
      SELECT m.component_id, m.node_id, a.name, a.bal,
             row_number() OVER (
               PARTITION BY m.component_id
               ORDER BY a.bal DESC, m.node_id ASC) AS rn
      FROM members m JOIN attrs a USING (node_id)
    )
    SELECT component_id,
           COUNT(*) AS n_members,
           MAX(CASE WHEN rn = 1 THEN node_id END) AS survivor_node,
           MAX(CASE WHEN rn = 1 THEN name END) AS survivor_name,
           ROUND(MAX(bal), 2) AS max_bal
    FROM enriched GROUP BY component_id
    """,
)
def link_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the last step of entity resolution: per entity
    cluster, elect ONE golden record by business rule (highest account
    balance, node-id tie-break) and carry merged facts (member count,
    max balance). match → cluster → survive is the full
    dedup-across-sources pipeline; downstream joins hit only golden
    records.

    Plan: clusters from :func:`link_entity_clusters` (blocked
    broadcast match + :func:`connected_components`); the attribute
    union is two narrow projections; the survivor election is a
    per-component rank window over component-sized groups (entities
    are small by definition), then one aggregate.
    """
    from pyspark.sql import Window as W

    members = link_entity_clusters(spark, sf_dir)
    cust = table(spark, sf_dir, "customer").select(
        (2 * F.col("c_custkey")).alias("node_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        (2 * F.col("s_suppkey") + 1).alias("node_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("bal"),
    )
    attrs = cust.unionByName(supp)
    w = W.partitionBy("component_id").orderBy(
        F.desc("bal"), F.asc("node_id")
    )
    enriched = members.join(attrs, "node_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return enriched.groupBy("component_id").agg(
        F.count("*").alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("node_id"))).alias(
            "survivor_node"
        ),
        F.max(F.when(F.col("rn") == 1, F.col("name"))).alias(
            "survivor_name"
        ),
        F.round(F.max("bal"), 2).alias("max_bal"),
    )


# Blocking-key candidates for the tuning curve: nation alone, then
# nation + name-suffix of growing width. Suffix predicates NEST
# (right(n,3) equal ⇒ right(n,2) equal ⇒ right(n,1) equal), so
# candidate sets shrink monotonically as the key widens — the LSH
# band-curve structure restated for record linkage.
LINK_BLOCK_SUFFIXES = (0, 1, 2, 3)


@register(
    "link_blocking_tuning_curve",
    oracle=f"""
    WITH pairs AS (
      SELECT right(c.c_name, 1) = right(s.s_name, 1) AS m1,
             right(c.c_name, 2) = right(s.s_name, 2) AS m2,
             right(c.c_name, 3) = right(s.s_name, 3) AS m3,
             levenshtein(c.c_name, s.s_name) <= {LINK_MAX_DIST} AS hit
      FROM customer c JOIN supplier s
        ON c.c_nationkey = s.s_nationkey
    ), folded AS (
      -- COUNT(*) FILTER, not SUM(CASE): on an EMPTY pair stream SUM
      -- is NULL while Spark's count_if is 0 — COUNT FILTER matches
      SELECT COUNT(*) AS c0,
             COUNT(*) FILTER (WHERE m1) AS c1,
             COUNT(*) FILTER (WHERE m2) AS c2,
             COUNT(*) FILTER (WHERE m3) AS c3,
             COUNT(*) FILTER (WHERE hit) AS h0,
             COUNT(*) FILTER (WHERE hit AND m1) AS h1,
             COUNT(*) FILTER (WHERE hit AND m2) AS h2,
             COUNT(*) FILTER (WHERE hit AND m3) AS h3
      FROM pairs
    )
    SELECT v.sfx_len,
           CAST(CASE v.sfx_len WHEN 0 THEN c0 WHEN 1 THEN c1
                WHEN 2 THEN c2 ELSE c3 END AS BIGINT) AS n_candidates,
           CAST(CASE v.sfx_len WHEN 0 THEN h0 WHEN 1 THEN h1
                WHEN 2 THEN h2 ELSE h3 END AS BIGINT) AS n_matches,
           CAST(CASE WHEN h0 = 0 THEN 1000000 ELSE
                CAST(CASE v.sfx_len WHEN 0 THEN h0 WHEN 1 THEN h1
                     WHEN 2 THEN h2 ELSE h3 END AS HUGEINT)
                * 1000000 // h0 END AS BIGINT) AS recall_q6,
           CAST(CASE WHEN c0 = 0 THEN 0 ELSE
                CAST(CASE v.sfx_len WHEN 0 THEN c0 WHEN 1 THEN c1
                     WHEN 2 THEN c2 ELSE c3 END AS HUGEINT)
                * 1000000 // c0 END AS BIGINT) AS candidate_share_q6
    FROM folded,
         (VALUES {', '.join(f'({v})' for v in LINK_BLOCK_SUFFIXES)})
         v(sfx_len)
    """,
)
def link_blocking_tuning_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BLOCKING-KEY tuning curve for record linkage — the knob every
    entity-resolution pipeline has to price: a coarser block keeps
    recall but pays quadratic candidate volume; a stricter block cuts
    candidates but can drop true matches. One row per candidate key
    (nation alone, then nation + name-suffix width 1/2/3): candidate
    count, true matches surviving the block, recall vs the
    within-nation truth (sfx_len 0 — the coarsest key IS the truth
    denominator), and candidate volume relative to it. The production
    key (`link_customer_supplier_fuzzy` uses suffix-2) is priced in
    context instead of assumed.

    Plan: ONE broadcast nation-block join and ONE aggregate — all
    four configs fold as conditional sums over the same pair stream
    (the suffix predicates nest, so no per-config join exists even
    conceptually); the 4-point frame assembles by broadcast from the
    1-row fold. The nation-block pair stream is the measurement cost
    (it IS the truth set — the dedup-curve pattern): at 100 TB this
    tuning row runs on an entity sample, and only the chosen key's
    production join runs corpus-wide.
    """
    # table_wide (r10): the nation-block fan-out runs ~600 k
    # levenshtein calls in the narrow stage ABOVE this scan — on the
    # local single-row-group parquet the bare scan plans ONE split and
    # serializes the whole pair stream onto one core (the fan-out
    # guard's documented case; at 100 TB the guard is a no-op)
    cust = table_wide(spark, sf_dir, "customer").select(
        "c_name", "c_nationkey"
    )
    supp = table(spark, sf_dir, "supplier").select(
        "s_name", "s_nationkey"
    )
    pairs = cust.join(
        F.broadcast(supp), F.col("c_nationkey") == F.col("s_nationkey")
    ).select(
        (
            F.expr("right(c_name, 1)") == F.expr("right(s_name, 1)")
        ).alias("m1"),
        (
            F.expr("right(c_name, 2)") == F.expr("right(s_name, 2)")
        ).alias("m2"),
        (
            F.expr("right(c_name, 3)") == F.expr("right(s_name, 3)")
        ).alias("m3"),
        (
            F.levenshtein(F.col("c_name"), F.col("s_name"))
            <= LINK_MAX_DIST
        ).alias("hit"),
    )
    folded = pairs.agg(
        F.count("*").alias("c0"),
        F.count_if(F.col("m1")).alias("c1"),
        F.count_if(F.col("m2")).alias("c2"),
        F.count_if(F.col("m3")).alias("c3"),
        F.count_if(F.col("hit")).alias("h0"),
        F.count_if(F.col("hit") & F.col("m1")).alias("h1"),
        F.count_if(F.col("hit") & F.col("m2")).alias("h2"),
        F.count_if(F.col("hit") & F.col("m3")).alias("h3"),
    )
    sizes = spark.createDataFrame(
        [(v,) for v in LINK_BLOCK_SUFFIXES], "sfx_len int"
    )
    cand = (
        "CASE sfx_len WHEN 0 THEN c0 WHEN 1 THEN c1"
        " WHEN 2 THEN c2 ELSE c3 END"
    )
    hits = (
        "CASE sfx_len WHEN 0 THEN h0 WHEN 1 THEN h1"
        " WHEN 2 THEN h2 ELSE h3 END"
    )
    return sizes.crossJoin(F.broadcast(folded)).selectExpr(
        "sfx_len",
        f"CAST({cand} AS BIGINT) AS n_candidates",
        f"CAST({hits} AS BIGINT) AS n_matches",
        "CAST(CASE WHEN h0 = 0 THEN 1000000 ELSE"
        f" CAST({hits} AS DECIMAL(38,0)) * 1000000 div h0 END"
        " AS BIGINT) AS recall_q6",
        "CAST(CASE WHEN c0 = 0 THEN 0 ELSE"
        f" CAST({cand} AS DECIMAL(38,0)) * 1000000 div c0 END"
        " AS BIGINT) AS candidate_share_q6",
    )
