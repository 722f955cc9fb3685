"""Privacy / compliance census operators for training-data pipelines.

The reference has no privacy surface (its scope is file ingestion,
main.py:1-466); this module extends the training-pipeline family —
before a corpus with user-derived records ships to training, the
pipeline must quantify re-identification exposure. The classic measure
is k-anonymity (Sweeney 2002, "k-anonymity: a model for protecting
privacy"): a record is k-anonymous when at least k records share its
quasi-identifier (QI) tuple; groups smaller than k are the
re-identifiable tail that must be suppressed or generalized.

Related existing rows: ``text_pii_scrub`` (value-level redaction) and
``events_user_erasure_audit`` (GDPR deletion) — this adds the
dataset-level risk census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import (
    cents_units_sql,
    register,
    table,
)

K_ANONYMITY_LEVELS = (2, 5, 10, 25)
ACCTBAL_BUCKET = 1000  # quasi-identifier coarsening for the balance

_QI_SQL = (
    "c_nationkey, c_mktsegment, "
    f"CAST(FLOOR(c_acctbal / {ACCTBAL_BUCKET}.0) AS BIGINT)"
)


@register(
    "privacy_k_anonymity_census",
    oracle=f"""
    WITH sizes AS (
      SELECT COUNT(*) AS gsize
      FROM customer GROUP BY {_QI_SQL}
    ), levels AS (
      SELECT gsize, COUNT(*) AS n_groups FROM sizes GROUP BY gsize
    ), ks(k) AS (VALUES {", ".join(f"({k})" for k in K_ANONYMITY_LEVELS)})
    SELECT CAST(ks.k AS BIGINT) AS k,
           CAST(SUM(n_groups) AS BIGINT) AS n_groups_total,
           CAST(COALESCE(SUM(n_groups) FILTER (WHERE gsize < ks.k), 0)
                AS BIGINT) AS n_groups_below,
           CAST(COALESCE(SUM(gsize * n_groups) FILTER (WHERE gsize < ks.k),
                0) AS BIGINT) AS n_rows_at_risk,
           CAST((COALESCE(SUM(gsize * n_groups)
                          FILTER (WHERE gsize < ks.k), 0) * 1000000)
                // SUM(gsize * n_groups) AS BIGINT) AS risk_share_q6
    FROM ks CROSS JOIN levels
    GROUP BY ks.k
    """,
)
def privacy_k_anonymity_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-anonymity risk census over the customer table's
    quasi-identifiers (nation, market segment, {ACCTBAL_BUCKET}-unit
    balance bucket): for each k in {K_ANONYMITY_LEVELS}, how many QI
    groups fall below k members, how many rows they hold, and the
    at-risk row share (exact integer millionths) — the go/no-go
    number a compliance gate reads before a corpus ships.

    100 TB shape: ONE corpus shuffle (the QI groupBy, map-side
    combined); group sizes then collapse to a size-LEVEL census
    (distinct sizes ≪ groups — the budget-trim level pattern), so the
    k-sweep is conditional sums over a broadcast-scale frame crossed
    with the {len(K_ANONYMITY_LEVELS)}-row k list. No per-k rescan,
    no second corpus pass. The suppression share is integer
    arithmetic end to end (no float division to drift cross-engine).
    """
    cust = table(spark, sf_dir, "customer")
    sizes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / float(ACCTBAL_BUCKET))
        .cast("long")
        .alias("bal_kb"),
    ).agg(F.count("*").alias("gsize"))
    levels = sizes.groupBy("gsize").agg(F.count("*").alias("n_groups"))
    ks = spark.createDataFrame(
        [(k,) for k in K_ANONYMITY_LEVELS], "k long"
    )
    below = F.when(F.col("gsize") < F.col("k"), F.col("n_groups"))
    rows_below = F.when(
        F.col("gsize") < F.col("k"), F.col("gsize") * F.col("n_groups")
    )
    return (
        F.broadcast(ks)
        .crossJoin(levels)
        .groupBy("k")
        .agg(
            F.sum("n_groups").alias("n_groups_total"),
            F.coalesce(F.sum(below), F.lit(0))
            .cast("long")
            .alias("n_groups_below"),
            F.coalesce(F.sum(rows_below), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN gsize < k THEN gsize * n_groups "
                "END), 0) * 1000000 div sum(gsize * n_groups) AS BIGINT)"
            ).alias("risk_share_q6"),
        )
    )


L_DIVERSITY_LEVELS = (2, 3, 5)
_QI_NOSENS_SQL = (
    f"c_nationkey, CAST(FLOOR(c_acctbal / {ACCTBAL_BUCKET}.0) AS BIGINT)"
)


@register(
    "privacy_l_diversity_census",
    oracle=f"""
    WITH g AS (
      SELECT COUNT(*) AS gsize,
             COUNT(DISTINCT c_mktsegment) AS nsens
      FROM customer GROUP BY {_QI_NOSENS_SQL}
    ), levels AS (
      SELECT nsens, COUNT(*) AS n_groups, SUM(gsize) AS n_rows
      FROM g GROUP BY nsens
    ), ls(l) AS (VALUES {", ".join(f"({v})" for v in L_DIVERSITY_LEVELS)})
    SELECT CAST(ls.l AS BIGINT) AS l,
           CAST(SUM(n_groups) AS BIGINT) AS n_groups_total,
           CAST(COALESCE(SUM(n_groups) FILTER (WHERE nsens < ls.l), 0)
                AS BIGINT) AS n_groups_below,
           CAST(COALESCE(SUM(n_rows) FILTER (WHERE nsens < ls.l), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(n_rows) FILTER (WHERE nsens < ls.l), 0)
                * 1000000 // SUM(n_rows) AS BIGINT) AS risk_share_q6
    FROM ls CROSS JOIN levels
    GROUP BY ls.l
    """,
)
def privacy_l_diversity_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """l-diversity risk census (Machanavajjhala et al. 2007 — the
    k-anonymity refinement: a QI group whose SENSITIVE attribute
    takes < l distinct values leaks the attribute even when the group
    is large): quasi-identifiers are nation + balance bucket, the
    sensitive attribute is the market segment, and for each l in
    {L_DIVERSITY_LEVELS} the census reports groups below l, their row
    mass, and the at-risk share (exact integer millionths).

    100 TB shape: identical to :func:`privacy_k_anonymity_census` —
    ONE corpus shuffle computing (group size, distinct-sensitive
    count) per QI group, collapsed to an nsens-LEVEL census, then the
    l-sweep is conditional sums over the broadcast-scale level frame
    crossed with the {len(L_DIVERSITY_LEVELS)}-row l list.
    """
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / float(ACCTBAL_BUCKET))
        .cast("long")
        .alias("bal_kb"),
    ).agg(
        F.count("*").alias("gsize"),
        F.countDistinct("c_mktsegment").alias("nsens"),
    )
    levels = g.groupBy("nsens").agg(
        F.count("*").alias("n_groups"), F.sum("gsize").alias("n_rows")
    )
    ls = spark.createDataFrame(
        [(v,) for v in L_DIVERSITY_LEVELS], "l long"
    )
    below_g = F.when(F.col("nsens") < F.col("l"), F.col("n_groups"))
    below_r = F.when(F.col("nsens") < F.col("l"), F.col("n_rows"))
    return (
        F.broadcast(ls)
        .crossJoin(levels)
        .groupBy("l")
        .agg(
            F.sum("n_groups").alias("n_groups_total"),
            F.coalesce(F.sum(below_g), F.lit(0))
            .cast("long")
            .alias("n_groups_below"),
            F.coalesce(F.sum(below_r), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN nsens < l THEN n_rows END), 0)"
                " * 1000000 div sum(n_rows) AS BIGINT)"
            ).alias("risk_share_q6"),
        )
    )


SAR_SUBJECTS = 3  # smallest active user_ids exercise the export path


@register(
    "privacy_subject_access_manifest",
    oracle=f"""
    WITH subjects AS (
      SELECT user_id FROM (
        SELECT DISTINCT user_id FROM events ORDER BY user_id
        LIMIT {SAR_SUBJECTS}
      )
    ), ev AS (
      SELECT s.user_id, md5(CAST(e.event_id AS VARCHAR)) AS h
      FROM events e JOIN subjects s ON e.user_id = s.user_id
    ), om AS (
      SELECT s.user_id, md5(CAST(o.o_orderkey AS VARCHAR)) AS h
      FROM orders o JOIN subjects s ON o.o_custkey = s.user_id
    ), cm AS (
      SELECT s.user_id, md5(CAST(c.c_custkey AS VARCHAR)) AS h
      FROM customer c JOIN subjects s ON c.c_custkey = s.user_id
    )
    SELECT user_id, 'events' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           md5(string_agg(h, '' ORDER BY h)) AS content_fp
    FROM ev GROUP BY user_id
    UNION ALL
    SELECT user_id, 'orders', CAST(COUNT(*) AS BIGINT),
           md5(string_agg(h, '' ORDER BY h))
    FROM om GROUP BY user_id
    UNION ALL
    SELECT user_id, 'customer', CAST(COUNT(*) AS BIGINT),
           md5(string_agg(h, '' ORDER BY h))
    FROM cm GROUP BY user_id
    """,
)
def privacy_subject_access_manifest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Subject-access-request export manifest (GDPR Art. 15 — the
    read twin of ``events_user_erasure_audit``'s delete): for each
    data subject (the {SAR_SUBJECTS} smallest active user ids —
    deterministic stand-ins for a request queue), every table holding
    their records reports row count and an order-insensitive content
    fingerprint (md5 over the SORTED member-row hashes — the receipt
    a DSAR fulfillment attaches, reproducible by any engine that
    holds the same rows). Identity stitches across tables on the
    shared key (events.user_id = orders.o_custkey =
    customer.c_custkey — the erasure row's model).

    100 TB shape: the subject list is a broadcast {SAR_SUBJECTS}-row
    frame (no collect); each per-table pass is a broadcast semi-side
    join + one subject-keyed aggregate whose sorted-hash chain is
    subject-sized, never table-sized. Tables without rows for a
    subject contribute no manifest row on either engine (absence is
    part of the receipt).
    """
    ev = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    subjects = (
        ev.select("user_id")
        .distinct()
        .orderBy("user_id")
        .limit(SAR_SUBJECTS)
    )

    subj = subjects.select(F.col("user_id").alias("subj_id"))

    def arm(df, key, row_key, name):
        rows = df.join(
            F.broadcast(subj), F.col(key) == F.col("subj_id")
        ).select(
            F.col("subj_id").alias("uid"),
            F.md5(F.col(row_key).cast("string")).alias("h"),
        )
        return rows.groupBy(F.col("uid").alias("user_id")).agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("h")))
            ).alias("content_fp"),
        ).select("user_id", "table_name", "n_rows", "content_fp")

    return (
        arm(ev, "user_id", "event_id", "events")
        .unionAll(arm(orders, "o_custkey", "o_orderkey", "orders"))
        .unionAll(arm(cust, "c_custkey", "c_custkey", "customer"))
    )


# t-closeness thresholds, in q6 total-variation units (0.10 / 0.20 /
# 0.35). Categorical sensitive attribute -> the EMD of Li et al.
# reduces to total variation distance.
T_CLOSENESS_LEVELS_Q6 = (100_000, 200_000, 350_000)


@register(
    "privacy_t_closeness_census",
    oracle=f"""
    WITH cell AS (
      SELECT {_QI_NOSENS_SQL.split(',')[0]},
             CAST(FLOOR(c_acctbal / {ACCTBAL_BUCKET}.0) AS BIGINT)
               AS bal_kb,
             c_mktsegment, COUNT(*) AS cnt
      FROM customer GROUP BY 1, 2, 3
    ), grp AS (
      SELECT c_nationkey, bal_kb, SUM(cnt) AS gsize
      FROM cell GROUP BY 1, 2
    ), seg AS (
      SELECT c_mktsegment, SUM(cnt) AS scnt FROM cell GROUP BY 1
    ), tot AS (
      SELECT SUM(cnt) AS n FROM cell
    ), dev AS (
      SELECT g.c_nationkey, g.bal_kb, g.gsize, t.n,
             ABS(COALESCE(c.cnt, 0) * t.n - s.scnt * g.gsize) AS dev
      FROM grp g CROSS JOIN seg s CROSS JOIN tot t
      LEFT JOIN cell c
        ON c.c_nationkey = g.c_nationkey AND c.bal_kb = g.bal_kb
       AND c.c_mktsegment = s.c_mktsegment
    ), gtvd AS (
      SELECT c_nationkey, bal_kb, ANY_VALUE(gsize) AS gsize,
             SUM(dev) * 1000000 // (2 * ANY_VALUE(gsize) * ANY_VALUE(n))
               AS tvd_q6
      FROM dev GROUP BY 1, 2
    ), ts(t) AS (VALUES {", ".join(f"({v})" for v in T_CLOSENESS_LEVELS_Q6)})
    SELECT CAST(ts.t AS BIGINT) AS t_q6,
           CAST(COUNT(*) AS BIGINT) AS n_groups_total,
           CAST(COALESCE(SUM(CASE WHEN tvd_q6 > ts.t THEN 1 END), 0)
                AS BIGINT) AS n_groups_exceeding,
           CAST(COALESCE(SUM(CASE WHEN tvd_q6 > ts.t THEN gsize END), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(COALESCE(SUM(CASE WHEN tvd_q6 > ts.t THEN gsize END), 0)
                * 1000000 // SUM(gsize) AS BIGINT) AS risk_share_q6
    FROM ts CROSS JOIN gtvd
    GROUP BY ts.t
    """,
)
def privacy_t_closeness_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t-closeness risk census (Li, Li & Venkatasubramanian, ICDE
    2007 — the refinement l-diversity still misses: a group can have
    many distinct sensitive values yet a SKEWED distribution that
    leaks; t-closeness bounds the distance between each QI group's
    sensitive distribution and the global one). For the categorical
    market segment the paper's EMD reduces to total variation
    distance; each group's TVD is exact integer arithmetic —
    Σ|cnt_g·N − cnt·g| · 1e6 div (2·g·N), no float — and the census
    sweeps the {T_CLOSENESS_LEVELS_Q6} thresholds reporting groups
    exceeding t and their row mass. Completes the privacy triad:
    k-anonymity (group size), l-diversity (value count), t-closeness
    (value distribution).

    100 TB shape: ONE corpus shuffle to (QI, segment) cells; groups,
    the global segment distribution, and every TVD computation run on
    the QI-domain-bounded cell frame (|nations|·|balance buckets|·
    |segments| — hundreds of rows at any corpus size); the t-sweep is
    a conditional sum over that frame crossed with the
    {len(T_CLOSENESS_LEVELS_Q6)}-row threshold list.
    """
    cust = table(spark, sf_dir, "customer")
    cell = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / float(ACCTBAL_BUCKET))
        .cast("long")
        .alias("bal_kb"),
        "c_mktsegment",
    ).agg(F.count("*").alias("cnt"))
    cell = cell.localCheckpoint(eager=True)  # four consumers below
    grp = cell.groupBy("c_nationkey", "bal_kb").agg(
        F.sum("cnt").alias("gsize")
    )
    seg = cell.groupBy("c_mktsegment").agg(F.sum("cnt").alias("scnt"))
    tot = cell.agg(F.sum("cnt").alias("n"))
    dev = (
        grp.crossJoin(F.broadcast(seg))
        .crossJoin(F.broadcast(tot))
        .join(
            cell.withColumnRenamed("c_mktsegment", "seg_m"),
            (F.col("seg_m") == F.col("c_mktsegment"))
            & (cell["c_nationkey"] == grp["c_nationkey"])
            & (cell["bal_kb"] == grp["bal_kb"]),
            "left",
        )
        .select(
            grp["c_nationkey"],
            grp["bal_kb"],
            "gsize",
            "n",
            F.abs(
                F.coalesce(F.col("cnt"), F.lit(0)) * F.col("n")
                - F.col("scnt") * F.col("gsize")
            ).alias("dev"),
        )
    )
    gtvd = dev.groupBy("c_nationkey", "bal_kb").agg(
        F.any_value("gsize").alias("gsize"),
        F.expr(
            "SUM(dev) * 1000000"
            " div (2 * any_value(gsize) * any_value(n))"
        ).alias("tvd_q6"),
    )
    ts = spark.createDataFrame(
        [(v,) for v in T_CLOSENESS_LEVELS_Q6], "t long"
    )
    exceed_g = F.when(F.col("tvd_q6") > F.col("t"), 1)
    exceed_r = F.when(F.col("tvd_q6") > F.col("t"), F.col("gsize"))
    return (
        F.broadcast(ts)
        .crossJoin(gtvd)
        .groupBy("t")
        .agg(
            F.count("*").alias("n_groups_total"),
            F.coalesce(F.sum(exceed_g), F.lit(0))
            .cast("long")
            .alias("n_groups_exceeding"),
            F.coalesce(F.sum(exceed_r), F.lit(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.expr(
                "CAST(coalesce(sum(CASE WHEN tvd_q6 > t THEN gsize END), 0)"
                " * 1000000 div sum(gsize) AS BIGINT)"
            ).alias("risk_share_q6"),
        )
        .select(
            F.col("t").alias("t_q6"),
            "n_groups_total",
            "n_groups_exceeding",
            "n_rows_at_risk",
            "risk_share_q6",
        )
    )


QI_LADDER_K = 5  # the k the generalization ladder must reach
_QI_LADDER_DESC = {
    0: "nation+segment+balance_bucket",
    1: "nation+segment",
    3: "nation",
    7: "(fully generalized)",
}


@register(
    "privacy_qi_generalization_ladder",
    oracle=f"""
    WITH g AS (
      SELECT GROUPING(c_nationkey, c_mktsegment, bal_kb) AS gid,
             COUNT(*) AS gsize
      FROM (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / {ACCTBAL_BUCKET}.0) AS BIGINT)
                 AS bal_kb
        FROM customer
      )
      GROUP BY GROUPING SETS (
        (c_nationkey, c_mktsegment, bal_kb),
        (c_nationkey, c_mktsegment),
        (c_nationkey),
        ()
      )
    )
    SELECT CAST(gid AS BIGINT) AS qi_level,
           CASE gid WHEN 0 THEN 'nation+segment+balance_bucket'
                    WHEN 1 THEN 'nation+segment'
                    WHEN 3 THEN 'nation'
                    ELSE '(fully generalized)' END AS qi_desc,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(gsize) AS BIGINT) AS min_group,
           CAST(COALESCE(SUM(gsize) FILTER (WHERE gsize < {QI_LADDER_K}),
                0) AS BIGINT) AS rows_below_k,
           CAST(COALESCE(SUM(gsize) FILTER (WHERE gsize < {QI_LADDER_K}),
                0) * 1000000 // SUM(gsize) AS BIGINT)
             AS risk_share_q6,
           MIN(gsize) >= {QI_LADDER_K} AS k_reached
    FROM g GROUP BY gid
    """,
)
def privacy_qi_generalization_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GENERALIZATION side of k-anonymity (the question Mondrian/
    Incognito answer): walking the QI coarsening ladder — full QI →
    drop the balance bucket → drop the segment → fully generalized —
    at which rung does every group reach k = {QI_LADDER_K}? Per rung:
    group count, the smallest group (the k that rung guarantees), the
    rows still below k, their share (exact q6), and the
    ``k_reached`` verdict. `privacy_k_anonymity_census` prices ONE
    QI set against many k; this prices many QI sets against the
    shipping k.

    Plan: ONE pass — GROUPING SETS compiles to a single Expand (4×
    row replication, the multi-level census analogue of the
    grouping-sets revenue cube) feeding one hash aggregate; the rung
    censuses then fold group-count-sized frames. grouping_id bit
    order (leftmost = most significant) is verified identical on
    both engines. At 100 TB: one corpus shuffle, 4× expanded — the
    ladder never rescans.
    """
    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / float(ACCTBAL_BUCKET))
        .cast("long")
        .alias("bal_kb"),
    )
    sizes = cust.groupingSets(
        [
            ["c_nationkey", "c_mktsegment", "bal_kb"],
            ["c_nationkey", "c_mktsegment"],
            ["c_nationkey"],
            [],
        ],
        "c_nationkey",
        "c_mktsegment",
        "bal_kb",
    ).agg(
        F.grouping_id().alias("gid"), F.count("*").alias("gsize")
    )
    below = F.when(
        F.col("gsize") < QI_LADDER_K, F.col("gsize")
    )
    desc = F.create_map(
        *[
            x
            for gid, d in _QI_LADDER_DESC.items()
            for x in (F.lit(gid), F.lit(d))
        ]
    )
    return sizes.groupBy("gid").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("gsize").cast("long").alias("min_group"),
        F.coalesce(F.sum(below), F.lit(0))
        .cast("long")
        .alias("rows_below_k"),
        F.expr(
            f"CAST(coalesce(sum(CASE WHEN gsize < {QI_LADDER_K} THEN"
            " gsize END), 0) * 1000000 div sum(gsize) AS BIGINT)"
        ).alias("risk_share_q6"),
        (F.min("gsize") >= QI_LADDER_K).alias("k_reached"),
    ).select(
        F.col("gid").cast("long").alias("qi_level"),
        desc[F.col("gid")].alias("qi_desc"),
        "n_groups",
        "min_group",
        "rows_below_k",
        "risk_share_q6",
        "k_reached",
    )


# Discrete-Laplace (two-sided geometric) mechanism at ε = 1 for a
# sensitivity-1 counting query. With p = 1 − e^(−ε), the geometric
# inverse-CDF is G = FLOOR(ln(u)/ln(1−p)) — and ln(1−p) = −ε = −1
# EXACTLY at ε=1, so the sample collapses to FLOOR(−ln u): one libm
# ln on an exact 32-bit-hash rational, deterministic on both engines.
DP_SEED = "dp1"


def _dp_geo_sql(arm: str) -> str:
    """One geometric sample keyed on (seed, segment, arm) — the
    md5-uniform house idiom; u = (h+1)/2^32 ∈ (0, 1]."""
    h = (
        f"('0x' || substr(md5('{DP_SEED}:{arm}:' || c_mktsegment),"
        " 1, 8))::BIGINT"
    )
    return f"CAST(FLOOR(-ln(({h} + 1) / 4294967296.0)) AS BIGINT)"


def _dp_geo_spark(arm: str) -> str:
    h = (
        f"CAST(conv(substring(md5(concat('{DP_SEED}:{arm}:',"
        " c_mktsegment)), 1, 8), 16, 10) AS BIGINT)"
    )
    return f"CAST(FLOOR(-ln(({h} + 1) / 4294967296.0)) AS BIGINT)"


@register(
    "privacy_dp_noisy_histogram",
    oracle=f"""
    WITH counts AS (
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment,
           true_n,
           CAST({_dp_geo_sql("pos")} - {_dp_geo_sql("neg")}
                AS BIGINT) AS noise,
           CAST(true_n + {_dp_geo_sql("pos")} - {_dp_geo_sql("neg")}
                AS BIGINT) AS noisy_n,
           CAST(1000000 AS BIGINT) AS epsilon_q6
    FROM counts
    """,
)
def privacy_dp_noisy_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ε-differentially-private histogram release for the
    market-segment counting query, via the DISCRETE LAPLACE
    (two-sided geometric) mechanism at ε = 1: noise = G⁺ − G⁻ with
    each G an inverse-CDF geometric sample. At ε = 1 the inverse CDF
    collapses to FLOOR(−ln u) exactly (ln(1−p) = −1), so each sample
    is one libm ``ln`` on an exact hash rational — deterministic and
    engine-identical, the same derandomization the bootstrap and
    permutation rows use. The mechanism's calibration (sensitivity-1
    count, b = 1/ε) is the textbook Ghosh-Roughgarden-Sundararajan
    geometric mechanism; the TRUE counts ride along here only for
    the oracle harness — a production release publishes the noisy
    column alone.

    Scale: one map-side-combined groupBy onto the bounded segment
    domain; the noise projection is per-cell arithmetic on that
    census frame."""
    cust = table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("true_n")
    )
    pos, neg = _dp_geo_spark("pos"), _dp_geo_spark("neg")
    return counts.select(
        "c_mktsegment",
        "true_n",
        F.expr(f"CAST({pos} - {neg} AS BIGINT)").alias("noise"),
        F.expr(f"CAST(true_n + {pos} - {neg} AS BIGINT)").alias(
            "noisy_n"
        ),
        F.lit(1_000_000).cast("long").alias("epsilon_q6"),
    )


DP_CLIP_CENTS = 10_000  # per-user contribution cap: 100.00

# ε = 1 with sensitivity C: geometric p = 1 − e^(−ε/C) makes
# ln(1−p) = −1/C EXACTLY, so the inverse-CDF sample collapses to
# FLOOR(−C·ln u) — again one libm ln on an exact hash rational.


def _dp_geo_scaled_sql(arm: str) -> str:
    h = (
        f"('0x' || substr(md5('{DP_SEED}:mean:{arm}'),"
        " 1, 8))::BIGINT"
    )
    return (
        f"CAST(FLOOR(-{DP_CLIP_CENTS} *"
        f" ln(({h} + 1) / 4294967296.0)) AS BIGINT)"
    )


def _dp_geo_scaled_spark(arm: str) -> str:
    h = (
        f"CAST(conv(substring(md5('{DP_SEED}:mean:{arm}'),"
        " 1, 8), 16, 10) AS BIGINT)"
    )
    return (
        f"CAST(FLOOR(-{DP_CLIP_CENTS} *"
        f" ln(({h} + 1) / 4294967296.0)) AS BIGINT)"
    )


@register(
    "privacy_dp_clipped_mean",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             {cents_units_sql("SUM(value)")} AS s_c
      FROM events GROUP BY user_id
    ), clipped AS (
      SELECT user_id,
             LEAST(GREATEST(s_c, 0), {DP_CLIP_CENTS}) AS c_c,
             s_c
      FROM per_user
    ), folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COALESCE(SUM(s_c), 0) AS BIGINT) AS true_sum_c,
             CAST(COALESCE(SUM(c_c), 0) AS BIGINT) AS clipped_sum_c
      FROM clipped
    )
    SELECT n_users, true_sum_c, clipped_sum_c,
           CAST({_dp_geo_scaled_sql("pos")}
                - {_dp_geo_scaled_sql("neg")} AS BIGINT) AS noise_c,
           CAST(clipped_sum_c + {_dp_geo_scaled_sql("pos")}
                - {_dp_geo_scaled_sql("neg")} AS BIGINT)
             AS noisy_sum_c,
           CAST(CASE WHEN n_users = 0 THEN 0
                ELSE (clipped_sum_c + {_dp_geo_scaled_sql("pos")}
                      - {_dp_geo_scaled_sql("neg")}) * 10000 // n_users
                END AS BIGINT) AS noisy_mean_q6,
           CAST(1000000 AS BIGINT) AS epsilon_q6,
           CAST({DP_CLIP_CENTS} AS BIGINT) AS clip_c
    FROM folds
    """,
)
def privacy_dp_clipped_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ε-DP mean release for per-user event value — the
    CLIPPING-calibrated companion to the histogram row: each user's
    value sum is capped at {DP_CLIP_CENTS} cents (user-level
    sensitivity = the cap, the standard bounded-contribution
    recipe), and the discrete-Laplace noise scales with it. With
    ε=1 and sensitivity C the geometric inverse CDF collapses to
    FLOOR(−C·ln u) exactly (ln(1−p) = −1/C), so the sample stays
    one deterministic libm ln on a hash rational. True and clipped
    sums ride along for the oracle harness; a production release
    publishes the noisy pair (sum, count) only.

    Scale: one user-keyed aggregate (the shuffle any per-user rollup
    pays) then a 1-row fold; noise is constant-time arithmetic."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(cents_units_sql("SUM(value)")).alias("s_c")
    )
    clipped = per_user.select(
        "s_c",
        F.expr(
            f"LEAST(GREATEST(s_c, 0), {DP_CLIP_CENTS})"
        ).alias("c_c"),
    )
    folds = clipped.agg(
        F.count("*").cast("long").alias("n_users"),
        F.coalesce(F.sum("s_c"), F.lit(0))
        .cast("long")
        .alias("true_sum_c"),
        F.coalesce(F.sum("c_c"), F.lit(0))
        .cast("long")
        .alias("clipped_sum_c"),
    )
    pos = _dp_geo_scaled_spark("pos")
    neg = _dp_geo_scaled_spark("neg")
    noisy = f"(clipped_sum_c + {pos} - {neg})"
    return folds.select(
        "n_users",
        "true_sum_c",
        "clipped_sum_c",
        F.expr(f"CAST({pos} - {neg} AS BIGINT)").alias("noise_c"),
        F.expr(f"CAST({noisy} AS BIGINT)").alias("noisy_sum_c"),
        F.expr(
            "CAST(CASE WHEN n_users = 0 THEN 0"
            f" ELSE {noisy} * 10000 div n_users END AS BIGINT)"
        ).alias("noisy_mean_q6"),
        F.lit(1_000_000).cast("long").alias("epsilon_q6"),
        F.lit(DP_CLIP_CENTS).cast("long").alias("clip_c"),
    )
