"""Graph analytics over the hour co-activity graph.

Twelve operators read one graph: users are vertices, and an edge joins
two users who were active in the same hour more often than
``EDGE_FACTOR`` times the mean co-count. The graph is built once per
side:

- Engine: :func:`_coactivity_edges` returns ``(cells, pair_counts,
  edges)`` and :func:`_symmetric` turns the edges into the ``(u, v)``
  list holding both directions. The pair expansion reuses the dedup
  family's capped one-shuffle bucket machinery
  (``_pairs_within_buckets``) with the hour as the bucket, so per-hour
  co-activity bounds the quadratic term exactly like an LSH bucket.
  ``pair_counts`` is checkpointed in the builder because it feeds both
  the threshold and the edge filter; every consumer checkpoints only
  what it reuses itself.
- Oracle: every co-activity oracle starts from ``WITH``
  :data:`_COACTIVITY_CTE` (``cells → hours_ok → pair_counts → cut →
  edges → sym``). ``cells``, ``pair_counts`` and ``edges`` are
  ``AS MATERIALIZED`` because DuckDB 1.0 inlines a plain CTE at every
  reference: the unrolled LPA rounds re-ran the whole build per
  reference. On sf0.01 (DuckDB 1.0.0, 4 cores, medians of 3-4 runs)
  the modularity oracle went from 17.8 s to 0.11 s, the LPA oracle
  from 0.68 s to 0.05 s, and all 12 together from 19.8 s to 0.37 s.

Triangles use the oriented-edge join: every edge is stored once as
(lo, hi), and the two joins enumerate each triangle exactly once as
a < b < c — no per-vertex adjacency materialization, no double
counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.operators.dedup import (
    CC_DRIVER_EDGE_CAP,
    MAX_BUCKET_SIZE,
    _COMPONENT_CTE,
    _DOC_CHAIN_CTE,
    _doc_chain_edges,
    _pairs_within_buckets,
    connected_components,
)
from almost_any_file_to_pandas_spark.plans import (
    micro_units,
    micro_units_sql,
    register,
    table,
)

EDGE_FACTOR = 2.0  # edge iff co-count > EDGE_FACTOR * mean co-count

# The in-bucket pair expansion drops hours with more than
# MAX_BUCKET_SIZE co-active users (skew guard). Unlike an LSH bucket,
# a dense hour in a co-activity graph is real signal, so the SAME cap
# is encoded in the oracle CTE (hours HAVING COUNT BETWEEN 2 AND cap)
# — both engines compute the identical capped graph by construction,
# and the cap is an explicit, documented model parameter rather than a
# silent engine-side divergence. Dropped hours are an OUTPUT COLUMN
# (n_capped_hours in the triangle census, via _oversize_hours) so a
# capped dense hour is visible in every gate run, never silent.
_COACTIVITY_CTE = f"""
    cells AS MATERIALIZED (
      SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
    ), hours_ok AS (
      SELECT h FROM cells GROUP BY h
      HAVING COUNT(*) BETWEEN 2 AND {MAX_BUCKET_SIZE}
    ), pair_counts AS MATERIALIZED (
      SELECT a.user_id AS u1, b.user_id AS u2, COUNT(*) AS c
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
      JOIN hours_ok ho ON ho.h = a.h
      GROUP BY a.user_id, b.user_id
    ), cut AS (
      SELECT {EDGE_FACTOR} * AVG(c) AS threshold FROM pair_counts
    ), edges AS MATERIALIZED (
      SELECT u1, u2 FROM pair_counts CROSS JOIN cut
      WHERE c > cut.threshold
    ), sym AS (
      SELECT u1 AS u, u2 AS v FROM edges
      UNION ALL
      SELECT u2 AS u, u1 AS v FROM edges
    )"""


def _coactivity_edges(spark: SparkSession, sf_dir: str):
    """``(cells, pair_counts, edges)`` of the hour co-activity graph —
    the engine side of :data:`_COACTIVITY_CTE`. ``cells`` holds the
    distinct (h, user_id) pairs, ``pair_counts`` the co-active hour
    count ``c`` of every pair ``u1 < u2``, and ``edges`` the pairs
    whose ``c`` clears the data-derived threshold (a one-row
    broadcast). ``pair_counts`` is checkpointed because it feeds both
    the threshold and the filter; ``edges`` is returned unmaterialized
    so each consumer checkpoints it only if it reuses it."""
    ev = table(spark, sf_dir, "events")
    cells = ev.select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "user_id"
    ).distinct()
    co = _pairs_within_buckets(cells, "user_id", ["h"], distinct=False)
    pair_counts = (
        co.groupBy(F.col("doc_a").alias("u1"), F.col("doc_b").alias("u2"))
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    cut = pair_counts.agg(
        (F.lit(EDGE_FACTOR) * F.avg("c")).alias("threshold")
    )
    edges = (
        pair_counts.crossJoin(F.broadcast(cut))
        .filter(F.col("c") > F.col("threshold"))
        .select("u1", "u2")
    )
    return cells, pair_counts, edges


def _symmetric(edges: DataFrame) -> DataFrame:
    """``(u, v)`` with every undirected edge in both directions — the
    ``sym`` CTE."""
    return edges.select(
        F.col("u1").alias("u"), F.col("u2").alias("v")
    ).unionAll(
        edges.select(F.col("u2").alias("u"), F.col("u1").alias("v"))
    )


def _oversize_hours(cells: DataFrame) -> DataFrame:
    """One-row frame counting the hour buckets the skew cap excludes
    from the graph — the observability hook for the documented cap,
    emitted as the census column ``n_capped_hours`` so a capped dense
    hour is a visible modeling decision, never silent."""
    return (
        cells.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > MAX_BUCKET_SIZE)
        .agg(F.count("*").alias("n_capped_hours"))
    )


@register(
    "events_cooccurrence_triangles",
    oracle=f"""
    WITH {_COACTIVITY_CTE}, triangles AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u1 = e1.u2
      JOIN edges e3 ON e3.u1 = e1.u1 AND e3.u2 = e2.u2
    )
    SELECT (SELECT COUNT(DISTINCT user_id) FROM cells) AS n_active_users,
           (SELECT COUNT(*) FROM pair_counts) AS n_copairs,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           n_triangles,
           (SELECT COUNT(*) FROM (
              SELECT h FROM cells GROUP BY h
              HAVING COUNT(*) > {MAX_BUCKET_SIZE}
           )) AS n_capped_hours
    FROM triangles
    """,
)
def events_cooccurrence_triangles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle census of the hour-co-activity user graph. The edge
    threshold is data-derived (co-count strictly above
    ``EDGE_FACTOR``× the mean co-count, a one-row broadcast) so the
    graph stays meaningfully sparse at every scale factor.

    Plan: distinct (hour, user) cells → capped one-shuffle in-bucket
    pair expansion (multiplicity = co-count) → mean-threshold filter →
    oriented-edge double join, each triangle exactly once. Every join
    input is the post-threshold edge table, orders of magnitude
    smaller than the event stream.
    """
    cells, pair_counts, edges = _coactivity_edges(spark, sf_dir)
    edges = edges.localCheckpoint()  # reused three times in the join
    e1 = edges
    e2 = edges.select(
        F.col("u1").alias("b"), F.col("u2").alias("c2")
    )
    e3 = edges.select(
        F.col("u1").alias("a3"), F.col("u2").alias("c3")
    )
    triangles = (
        e1.join(e2, e1.u2 == e2.b)
        .join(e3, (F.col("a3") == e1.u1) & (F.col("c3") == F.col("c2")))
        .agg(F.count("*").alias("n_triangles"))
    )
    n_users = cells.agg(
        F.countDistinct("user_id").alias("n_active_users")
    )
    n_copairs = pair_counts.agg(F.count("*").alias("n_copairs"))
    n_edges = edges.agg(F.count("*").alias("n_edges"))
    return (
        n_users.crossJoin(n_copairs)
        .crossJoin(n_edges)
        .crossJoin(triangles)
        .crossJoin(_oversize_hours(cells))
    )


PR_DAMP = 0.85
PR_ITERS = 8


def pagerank(edges: DataFrame, damp: float = PR_DAMP,
             iters: int = PR_ITERS) -> DataFrame:
    """Distributed PageRank by synchronous power iteration over an
    UNDIRECTED edge list ``(u1, u2)`` (symmetrized internally).

    Third graph-family member beside the O(log n) connected components
    and the triangle census. Every node in a symmetrized graph has
    out-degree ≥ 1, so there is no dangling mass and rank conserves to
    exactly 1 each round (up to float ulps) — the property the floor
    row pins.

    Scale shape: ``(edge ⨝ ranks)`` then a sum-by-destination — the
    standard two-shuffle PageRank round, both keyed on node id, so AQE
    reuses/broadcasts the small side as the graph allows; ranks are
    ``localCheckpoint``-ed each round to truncate the O(iters)-deep
    lineage (same discipline as the CC and cluster-canonical loops).
    The node count is a one-number aggregate (bounded driver scalar,
    like the Bloom/PQ index builds).
    """
    sym = edges.select(
        F.col("u1").alias("src"), F.col("u2").alias("dst")
    ).union(
        edges.select(F.col("u2").alias("src"), F.col("u1").alias("dst"))
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    out = sym.join(deg, "src").localCheckpoint(eager=True)
    nodes = deg.select(F.col("src").alias("node")).localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            out.join(ranks, out.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damp) / n)
                    + F.lit(damp) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


@register(
    "graph_pagerank_floor",
    oracle=f"""
    WITH {_COACTIVITY_CTE}, nodes AS (SELECT DISTINCT u FROM sym)
    SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
           (SELECT COUNT(*) FROM edges) AS n_edges,
           CAST({PR_ITERS} AS INT) AS iters,
           TRUE AS rank_conserved,
           TRUE AS min_rank_floor_met
    """,
)
def graph_pagerank_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank acceptance gate over the hour-co-activity graph (the
    recall-floor pattern): ranks from :func:`pagerank` must conserve
    total mass to 1 (no dangling nodes in a symmetrized graph) and
    every rank must clear the teleport floor (1−d)/n — both provable
    properties the oracle states independently, anchored to the
    node/edge counts it derives from the identical graph CTE. Exact
    ranks are additionally pinned against a numpy power iteration in
    tests/test_operators.py.
    """
    _, _, edges = _coactivity_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=True)
    ranks = pagerank(edges)
    n_edges = edges.count()
    agg = ranks.agg(
        F.count("*").alias("n_nodes"),
        F.sum("rank").alias("total"),
        F.min("rank").alias("mn"),
    ).collect()[0]
    n = agg["n_nodes"]
    # conservation tolerance scales with n: the rank total is an
    # accumulation-order-dependent double sum of n terms, so a fixed
    # 1e-9 bound could flip spuriously on a large graph / different
    # partitioning (each term carries ~ulp(1/n) error; n·1e-12 bounds
    # the worst-case drift with 3 orders of margin at any n where the
    # fixed bound would have been tight)
    conserved = n == 0 or abs(agg["total"] - 1.0) < max(1e-9, n * 1e-12)
    floor_met = n == 0 or agg["mn"] >= (1.0 - PR_DAMP) / n - 1e-12
    return spark.createDataFrame(
        [(n, n_edges, PR_ITERS, bool(conserved), bool(floor_met))],
        schema=(
            "n_nodes bigint, n_edges bigint, iters int, "
            "rank_conserved boolean, min_rank_floor_met boolean"
        ),
    )


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH {_COACTIVITY_CTE}, deg AS (
      SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    ), deg_pairs AS (
      SELECT CAST(d1.d AS HUGEINT) AS x, CAST(d2.d AS HUGEINT) AS y
      FROM sym e JOIN deg d1 ON d1.u = e.u JOIN deg d2 ON d2.u = e.v
    ), s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM deg_pairs
    )
    SELECT CAST(n // 2 AS BIGINT) AS n_edges,
           CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0
                THEN NULL
                ELSE {micro_units_sql(
                    "CAST(n*sxy - sx*sy AS DOUBLE)"
                    " / (SQRT(CAST(n*sxx - sx*sx AS DOUBLE))"
                    " * SQRT(CAST(n*syy - sy*sy AS DOUBLE)))"
                )}
           END AS assortativity_q6
    FROM s
    """,
)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the co-activity graph — Newman's r,
    the Pearson correlation of endpoint degrees over (symmetrized)
    edges.  Positive r = hubs link to hubs (social/community
    structure); negative r = hubs link to leaves (star/bot topology)
    — the one-number structural complement to the triangle census.

    Determinism: every Pearson term (Σx, Σxy, Σx², n) is an exact
    integer sum widened to DECIMAL(38,0)/HUGEINT (degree products
    overflow int64 at hub degrees ~10⁵ × 10¹⁰ edges); the final r
    divides identical integers through IEEE sqrt and quantizes to
    micros.  A degenerate graph (constant degree) emits NULL in both
    engines.

    Plan: the same capped one-shuffle pair expansion and broadcast
    mean-threshold as the triangle census builds the edge set; the
    degree table is one union-aggregate over edge endpoints; the two
    degree joins shuffle only edge-sized frames on the user key; the
    Pearson fold is one map-side-combined scalar aggregate.
    """
    _, _, edges = _coactivity_edges(spark, sf_dir)
    edges = edges.localCheckpoint()  # feeds deg + two joins
    deg = (
        edges.select(F.col("u1").alias("u"))
        .unionByName(edges.select(F.col("u2").alias("u")))
        .groupBy("u")
        .agg(F.count("*").alias("d"))
    )
    d1 = deg.select(F.col("u").alias("j1"), F.col("d").alias("dx"))
    d2 = deg.select(F.col("u").alias("j2"), F.col("d").alias("dy"))
    joined = (
        edges.join(d1, edges.u1 == F.col("j1"))
        .join(d2, edges.u2 == F.col("j2"))
        .select(
            F.col("dx").cast("decimal(38,0)").alias("x"),
            F.col("dy").cast("decimal(38,0)").alias("y"),
        )
    )
    deg_pairs = joined.unionByName(
        joined.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    s = deg_pairs.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        F.expr("CAST(n div 2 AS BIGINT)").alias("n_edges"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("bigint"))
        .otherwise(
            micro_units(
                num.cast("double")
                / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double")))
            )
        )
        .alias("assortativity_q6"),
    )


LPA_ITERS = 3  # fixed synchronous label-propagation rounds


def _lpa_cte_head() -> str:
    """The shared WITH-chain through ``it{LPA_ITERS}`` (final labels)
    — reused by the LPA census oracle and the modularity oracle."""
    head = f"""
    WITH {_COACTIVITY_CTE}, it0 AS (
      SELECT DISTINCT u, u AS lab FROM sym
    )"""
    rounds = []
    for i in range(1, LPA_ITERS + 1):
        rounds.append(f""", step{i} AS (
      SELECT e.u, p.lab, COUNT(*) AS c
      FROM sym e JOIN it{i - 1} p ON p.u = e.v
      GROUP BY e.u, p.lab
    ), pick{i} AS (
      SELECT u, lab FROM (
        SELECT u, lab,
               ROW_NUMBER() OVER (PARTITION BY u
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM step{i}
      ) WHERE rn = 1
    ), it{i} AS (
      SELECT prev.u, COALESCE(pk.lab, prev.lab) AS lab
      FROM it{i - 1} prev LEFT JOIN pick{i} pk ON pk.u = prev.u
    )"""
        )
    return head + "".join(rounds)


def _lpa_sql() -> str:
    """Unrolled synchronous LPA oracle: each round is a neighbor-label
    census + (count DESC, label ASC) argmin pick + isolated-node
    carry-over — the same deterministic rule the engine loop runs."""
    return (
        _lpa_cte_head()
        + f"""
    SELECT lab AS community, COUNT(*) AS n_members
    FROM it{LPA_ITERS} GROUP BY lab
    """
    )


@register("graph_label_propagation", oracle=_lpa_sql())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over the hour-co-activity graph — the cheap first
    answer to "which users form rings?", complementing the triangle
    census (local clustering) and connected components (reachability:
    LPA splits a component into densely-knit groups).

    Determinism: textbook LPA tie-breaks randomly and is famously
    unstable; this restatement is FULLY deterministic — fixed
    {LPA_ITERS} synchronous rounds from identity labels, each node
    adopting its neighborhood's (most frequent, then smallest) label,
    isolated carry-over for nodes whose census is empty (cannot
    happen on a symmetrized edge list, kept for rule totality). Both
    engines run the identical rule, so the gate hashes full
    community assignments, not just sizes.

    Plan/scale: the edge build is the shared capped-bucket machinery
    (one shuffle, skew-capped hours). Round 1 is one ``min`` aggregate
    over the symmetric edge list (identity labels make the smallest
    neighbour the pick); each later round is ONE shuffled join on the
    edge list + one per-node deterministic ``mode`` aggregate — the
    Pregel message-pass compiled to DataFrame ops. The rounds chain in
    one plan; only the final labels are checkpointed.
    """
    _, labels = _lpa_label_frames(spark, sf_dir)
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").alias("n_members")
    )


def _lpa_label_frames(spark: SparkSession, sf_dir: str):
    """The LPA engine loop behind :func:`graph_label_propagation`,
    returning (symmetric edge list, final (u, lab) labels) so the
    modularity scorer can reuse both frames (plan-identical for the
    census query)."""
    _, _, edges = _coactivity_edges(spark, sf_dir)
    sym = _symmetric(edges).localCheckpoint(eager=True)
    # Round 1 starts from identity labels, and sym holds each (u, v)
    # pair once, so every neighbour label counts 1 and the (count
    # DESC, label ASC) pick is the smallest neighbour.
    labels = sym.groupBy("u").agg(F.min("v").alias("lab"))
    for _ in range(LPA_ITERS - 1):
        # One aggregate per round: deterministic mode is the most
        # frequent neighbour label, the smallest on ties — the row the
        # oracle's row_number window picks. sym holds both directions
        # of every edge, so every labelled node appears as ``u`` and
        # the rule's isolated-node carry-over can never fire.
        labels = (
            sym.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lab").alias("nlab")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.mode("nlab", deterministic=True).alias("lab"))
        )
    # The rounds chain inside one plan (each intermediate labels frame
    # has one consumer, the next round). Only the final labels are
    # materialized: the modularity consumer reads them from four
    # places in one job. Dropping this checkpoint, or all three
    # eager ones on this path, measured slower (ROADMAP item 2).
    return sym, labels.localCheckpoint(eager=True)


@register(
    "graph_modularity_score",
    oracle=_lpa_cte_head()
    + f""", deg AS (
      SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    ), intra AS (
      SELECT COUNT(*) FILTER (WHERE a.lab = b.lab) AS intra2
      FROM sym e
      JOIN it{LPA_ITERS} a ON a.u = e.u
      JOIN it{LPA_ITERS} b ON b.u = e.v
    ), dc AS (
      SELECT COALESCE(SUM(s * s), 0) AS sum_dc2
      FROM (
        SELECT l.lab, SUM(d.d) AS s
        FROM it{LPA_ITERS} l JOIN deg d ON d.u = l.u
        GROUP BY l.lab
      )
    ), m AS (
      SELECT COUNT(*) AS two_m FROM sym
    ), nodes AS (
      SELECT COUNT(*) AS n_nodes,
             COUNT(DISTINCT lab) AS n_communities
      FROM it{LPA_ITERS}
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(two_m // 2 AS BIGINT) AS n_edges,
           CAST(n_communities AS BIGINT) AS n_communities,
           CAST(intra2 // 2 AS BIGINT) AS intra_edges,
           CASE WHEN two_m = 0 THEN NULL
                ELSE {micro_units_sql(
                    "(intra2 * two_m - sum_dc2)::DOUBLE"
                    " / (two_m::DOUBLE * two_m::DOUBLE)"
                )}
           END AS modularity_q6
    FROM nodes CROSS JOIN intra CROSS JOIN dc CROSS JOIN m
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities over the co-activity
    graph — the quality score that tells you whether the detected
    partition is actually denser-than-chance (Q > 0) or noise
    (Q ≈ 0), closing the loop on ``graph_label_propagation``:
    ``Q = Σ_c (m_c/m − (d_c/2m)²) = (intra2·2m − Σd_c²) / (2m)²``
    where ``intra2`` counts intra-community rows of the SYMMETRIC
    edge list (each undirected edge twice) and ``d_c`` sums member
    degrees. The numerator/denominator are exact int64; the final
    ratio is the established FLOOR(x·1e6 + 0.5) double recipe
    (``graph_degree_assortativity``'s class — num, den well inside
    2^53), NULL on an empty graph.

    Plan/scale: labels come from the SAME deterministic {LPA_ITERS}-
    round LPA loop (refactored to ``_lpa_label_frames`` —
    plan-identical for the census row); modularity adds two
    node-keyed broadcast-scale maps (labels, degrees) joined onto the
    one materialized edge list — no new corpus pass, no all-pairs
    anything — then three scalar aggregates folded by 1-row
    crossJoins.
    """
    sym, labels = _lpa_label_frames(spark, sf_dir)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    lab_u = labels.select(F.col("u"), F.col("lab").alias("lab_a"))
    lab_v = labels.select(
        F.col("u").alias("v"), F.col("lab").alias("lab_b")
    )
    intra = (
        sym.join(lab_u, "u")
        .join(lab_v, "v")
        .agg(
            F.count(
                F.when(F.col("lab_a") == F.col("lab_b"), 1)
            ).alias("intra2")
        )
    )
    dc = (
        labels.join(deg, "u")
        .groupBy("lab")
        .agg(F.sum("d").alias("s"))
        .agg(
            F.coalesce(F.sum(F.col("s") * F.col("s")), F.lit(0)).alias(
                "sum_dc2"
            )
        )
    )
    m = sym.agg(F.count("*").alias("two_m"))
    nodes = labels.agg(
        F.count("*").alias("n_nodes"),
        F.countDistinct("lab").alias("n_communities"),
    )
    return (
        nodes.crossJoin(intra)
        .crossJoin(dc)
        .crossJoin(m)
        .selectExpr(
            "CAST(n_nodes AS BIGINT) AS n_nodes",
            "CAST(two_m div 2 AS BIGINT) AS n_edges",
            "CAST(n_communities AS BIGINT) AS n_communities",
            "CAST(intra2 div 2 AS BIGINT) AS intra_edges",
            "CASE WHEN two_m = 0 THEN NULL ELSE "
            + micro_units_sql(
                "CAST(intra2 * two_m - sum_dc2 AS DOUBLE)"
                " / (CAST(two_m AS DOUBLE) * CAST(two_m AS DOUBLE))"
            )
            + " END AS modularity_q6",
        )
    )


KCORE_K = 2  # degree floor of the core
KCORE_ROUNDS = 3  # fixed synchronous peels (converged at tested SFs)


def _kcore_sql() -> str:
    """Unrolled fixed-round k-core peel: each round recounts degrees
    on the surviving edge set and drops vertices below KCORE_K — the
    same synchronous recursion both engines run, unrolled because the
    oracle dialect has no iteration."""
    rounds = []
    prev = "edges"
    for r in range(1, KCORE_ROUNDS + 1):
        rounds.append(
            f"""
    , d{r - 1} AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT u1 AS v FROM {prev} UNION ALL SELECT u2 FROM {prev}
      ) GROUP BY v
    ), s{r} AS (SELECT v FROM d{r - 1} WHERE d >= {KCORE_K})
    , e{r} AS MATERIALIZED (
      SELECT u1, u2 FROM {prev}
      WHERE u1 IN (SELECT v FROM s{r})
        AND u2 IN (SELECT v FROM s{r})
    )"""
        )
        prev = f"e{r}"
    summaries = [
        "SELECT 0 AS round,"
        " (SELECT COUNT(*) FROM d0) AS n_vertices,"
        " (SELECT COUNT(*) FROM edges) AS n_edges"
    ] + [
        f"SELECT {r}, (SELECT COUNT(*) FROM s{r}),"
        f" (SELECT COUNT(*) FROM e{r})"
        for r in range(1, KCORE_ROUNDS + 1)
    ]
    return f"""
    WITH {_COACTIVITY_CTE}{''.join(rounds)}
    {' UNION ALL '.join(summaries)}
    """


@register("graph_kcore_trajectory", oracle=_kcore_sql())
def graph_kcore_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core peel trajectory of the hour-co-activity graph:
    per synchronous round, how many vertices still meet the degree
    floor and how many edges survive. The k-core is the standard
    "dense kernel" extractor (Seidman 1983) — the bot-ring /
    power-clique signal that degree alone misses (a vertex with many
    edges to PERIPHERAL vertices peels away once they do). The
    trajectory flattening (round r == round r-1) shows convergence in
    the output itself rather than asserting it.

    Determinism: fixed {KCORE_ROUNDS} synchronous rounds on both
    engines (the oracle unrolls them as CTEs), so the result is exact
    regardless of whether the peel has converged at an untested SF —
    the fixed-round LPA discipline.

    Scale: the edge build is the shared capped-bucket machinery (one
    shuffle, skew-capped hours, corpus-sized); every peel round after
    it runs on the THRESHOLDED edge list (orders of magnitude smaller
    than the corpus) — one degree aggregate + two semi-joins, with a
    localCheckpoint per round for constant-depth lineage, PageRank's
    iterative discipline. Production k-max core numbers would loop
    until fixpoint with the same round body.
    """
    _, _, edges = _coactivity_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=True)

    # Two regimes, split by CC_DRIVER_EDGE_CAP: the peel runs on the
    # THRESHOLDED edge list, already orders of magnitude below the
    # corpus, and at bench scale each distributed round paid two
    # blocking checkpoint jobs and a Catalyst compile for microseconds
    # of degree counting. One limit(cap).collect() over the eager
    # checkpoint above both gates and fetches (fewer than cap rows
    # back means under the cap), so it is BOUNDED by the cap (≈2 MB).
    # Above the cap the distributed loop runs.
    collected = edges.limit(CC_DRIVER_EDGE_CAP).collect()
    if len(collected) < CC_DRIVER_EDGE_CAP:
        from collections import Counter

        es = [(r["u1"], r["u2"]) for r in collected]
        deg = Counter()
        for a, b in es:
            deg[a] += 1
            deg[b] += 1
        rows = [(0, len(deg), len(es))]
        for r in range(1, KCORE_ROUNDS + 1):
            surv = {v for v, d in deg.items() if d >= KCORE_K}
            es = [(a, b) for a, b in es if a in surv and b in surv]
            deg = Counter()
            for a, b in es:
                deg[a] += 1
                deg[b] += 1
            rows.append((r, len(surv), len(es)))
        return spark.createDataFrame(
            rows, "round int, n_vertices long, n_edges long"
        )

    def endpoints(e: DataFrame) -> DataFrame:
        return e.select(F.col("u1").alias("v")).unionAll(
            e.select(F.col("u2").alias("v"))
        )

    def summary(rnd: int, n_vertices: DataFrame, e: DataFrame) -> DataFrame:
        return (
            n_vertices.agg(F.count("*").alias("n_vertices"))
            .crossJoin(e.agg(F.count("*").alias("n_edges")))
            .select(
                F.lit(rnd).alias("round"), "n_vertices", "n_edges"
            )
        )

    deg = endpoints(edges).groupBy("v").agg(F.count("*").alias("d"))
    out = summary(0, deg, edges)
    for r in range(1, KCORE_ROUNDS + 1):
        # Checkpointing the survivor set buys two things: fresh
        # attributes for the semi-joins (never the same-lineage
        # trivially-true predicate the skyline fixture pins), and one
        # materialization of the degree shuffle instead of three
        # recomputes (both semi-joins + the summary count) — measured
        # 6.3s vs 9.9s for the sf0.1 trajectory.
        surv = deg.filter(F.col("d") >= KCORE_K).select("v")
        surv = surv.localCheckpoint(eager=True)
        edges = (
            edges.join(
                surv.withColumnRenamed("v", "u1"), "u1", "left_semi"
            )
            .join(surv.withColumnRenamed("v", "u2"), "u2", "left_semi")
            .select("u1", "u2")
            .localCheckpoint(eager=True)
        )
        deg = endpoints(edges).groupBy("v").agg(F.count("*").alias("d"))
        out = out.unionAll(summary(r, surv, edges))
    return out


LINKPRED_TOP = 20


def _links_sql(score: str, scored: str) -> str:
    """Oracle side of :func:`_top_links`. ``scored`` is a SELECT over
    the ``wedge`` (ua, ub, w) and ``deg`` CTEs yielding one
    (ua, ub, c, <score>) row per wedge-connected pair."""
    return f"""
    WITH {_COACTIVITY_CTE}, deg AS (
      SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    ), wedge AS (
      SELECT a.u AS ua, b.u AS ub, a.v AS w
      FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
    ), scored AS ({scored}
    )
    SELECT CAST(ua AS BIGINT) AS u1, CAST(ub AS BIGINT) AS u2,
           CAST(c AS BIGINT) AS common_neighbors,
           CAST({score} AS BIGINT) AS {score},
           CAST(ROW_NUMBER() OVER (ORDER BY {score} DESC, ua, ub)
                AS INTEGER) AS rnk
    FROM scored s
    WHERE NOT EXISTS (
      SELECT 1 FROM edges e WHERE e.u1 = s.ua AND e.u2 = s.ub)
    QUALIFY ROW_NUMBER() OVER (ORDER BY {score} DESC, ua, ub)
            <= {LINKPRED_TOP}
    """


def _coactivity_graph(spark: SparkSession, sf_dir: str):
    """(edges, sym) of the co-activity graph, both localCheckpointed:
    edges feeds the link predictors' anti join, sym feeds wedges (×2)
    and degrees."""
    _, _, edges = _coactivity_edges(spark, sf_dir)
    edges = edges.localCheckpoint(eager=True)
    return edges, _symmetric(edges).localCheckpoint(eager=True)


def _top_links(spark: SparkSession, sf_dir: str, score: str,
               score_pairs) -> DataFrame:
    """Shared tail of the two link predictors: the wedge walk
    ua—w—ub (ua < ub) over the symmetric edge list, folded by
    ``score_pairs(wedge, deg)`` into one (ua, ub, c, <score>) row per
    pair, then an existing-edge ANTI join and a TakeOrderedAndProject
    top-{LINKPRED_TOP} with ties broken (score DESC, ua, ub) on exact
    integers."""
    edges, sym = _coactivity_graph(spark, sf_dir)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    wedge = (
        sym.select(F.col("u").alias("ua"), F.col("v").alias("w"))
        .join(sym.select(F.col("u").alias("ub"), F.col("v").alias("w")), "w")
        .filter(F.col("ua") < F.col("ub"))
    )
    pairs = score_pairs(wedge, deg)
    nonedge = pairs.join(
        edges,
        (pairs.ua == edges.u1) & (pairs.ub == edges.u2),
        "left_anti",
    )
    order = [F.desc(score), F.asc("ua"), F.asc("ub")]
    top = nonedge.orderBy(*order).limit(LINKPRED_TOP)
    w = W.partitionBy(F.pmod(F.col(score), F.lit(1))).orderBy(*order)
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("int")
    ).select(
        F.col("ua").cast("long").alias("u1"),
        F.col("ub").cast("long").alias("u2"),
        F.col("c").cast("long").alias("common_neighbors"),
        F.col(score).cast("long").alias(score),
        "rnk",
    )


@register(
    "graph_jaccard_link_prediction",
    oracle=_links_sql("jacc_q6", """
      SELECT p.ua, p.ub, p.c,
             p.c * 1000000 // (da.d + db.d - p.c) AS jacc_q6
      FROM (SELECT ua, ub, COUNT(*) AS c FROM wedge GROUP BY ua, ub) p
      JOIN deg da ON da.u = p.ua
      JOIN deg db ON db.u = p.ub"""),
)
def graph_jaccard_link_prediction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction by neighborhood Jaccard (Liben-Nowell & Klein-
    berg 2003) on the hour-co-activity graph: for each NON-adjacent
    user pair sharing ≥1 neighbor, score
    ``|Γ(u)∩Γ(v)| div (du + dv − |∩|)`` (exact q6 integer — the
    union by inclusion-exclusion, no set materialization) and emit
    the top-{LINKPRED_TOP} predicted links. Completes the graph
    family's analytics arc: census (triangles) → communities (LPA)
    → cores (k-core) → PREDICTION.

    Plan: the shared capped-bucket edge build (one shuffle), then
    common-neighbor counting as ONE self-join of the symmetric edge
    list keyed on the shared endpoint — the wedge walk, Σ deg²-
    bounded, same cost class as the triangle census — a hash
    aggregate on the (a, b) wedge ends and degree joins keyed on
    node, then the :func:`_top_links` tail. No window touches
    anything corpus-sized.
    """
    def jaccard(wedge: DataFrame, deg: DataFrame) -> DataFrame:
        return (
            wedge.groupBy("ua", "ub")
            .agg(F.count("*").alias("c"))
            .join(
                deg.select(F.col("u").alias("ua"), F.col("d").alias("da")),
                "ua",
            )
            .join(
                deg.select(F.col("u").alias("ub"), F.col("d").alias("db")),
                "ub",
            )
            .selectExpr(
                "ua", "ub", "c", "c * 1000000 div (da + db - c) AS jacc_q6"
            )
        )

    return _top_links(spark, sf_dir, "jacc_q6", jaccard)


@register(
    "graph_resource_allocation_links",
    oracle=_links_sql("ra_q6", """
      SELECT ua, ub, COUNT(*) AS c, SUM(1000000 // dw.d) AS ra_q6
      FROM wedge JOIN deg dw ON dw.u = wedge.w
      GROUP BY ua, ub"""),
)
def graph_resource_allocation_links(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Link prediction by the RESOURCE-ALLOCATION index (Zhou, Lü &
    Zhang 2009): ``RA(u,v) = Σ_{{w ∈ Γ(u)∩Γ(v)}} 1/deg(w)`` — the
    degree-weighted complement of :func:`graph_jaccard_link_
    prediction` (a shared hub predicts little; a shared low-degree
    neighbor predicts a lot). RA is chosen over Adamic-Adar exactly
    because it is LOG-FREE: each term is the exact integer
    ``1e6 div deg(w)`` (the per-term floor IS the stated score), so
    the whole ranking is engine-exact where AA's ``1/ln d`` never
    could be.

    Plan: the Jaccard op's wedge walk and tail (:func:`_top_links`)
    with ONE extra broadcast-sized join — the shared endpoint's degree
    rides the wedge row and the per-(u,v) score is a plain SUM, so the
    cost class is unchanged:
    Σ deg²-bounded wedge rows, anti join, TakeOrderedAndProject.
    """
    def resource_allocation(wedge: DataFrame, deg: DataFrame) -> DataFrame:
        return (
            wedge.join(deg.select(F.col("u").alias("w"), "d"), "w")
            .groupBy("ua", "ub")
            .agg(
                F.count("*").alias("c"),
                F.expr("SUM(1000000 div d)").alias("ra_q6"),
            )
        )

    return _top_links(spark, sf_dir, "ra_q6", resource_allocation)


def _degree_dist_sql() -> str:
    return f"""
    WITH {_COACTIVITY_CTE}, deg AS (
      SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    ), with_zero AS (
      SELECT d FROM deg
      UNION ALL
      SELECT 0 AS d FROM (SELECT DISTINCT user_id FROM events) au
      WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.u = au.user_id)
    )
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM with_zero GROUP BY d
    """


@register("graph_degree_distribution", oracle=_degree_dist_sql())
def graph_degree_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree histogram of the hour-co-activity graph, INCLUDING the
    degree-0 row (active users the edge threshold isolated) — the
    first diagnostic every graph-family operator's cost model reads:
    the wedge walks (triangles, LPA, link prediction) are Σ deg²-
    bounded, and this row is where that Σ deg² is measured rather
    than assumed. Same shared capped-bucket build as the rest of the
    family (identical CTEs in the oracle).

    Plan: the one edge-build shuffle, a node-keyed degree count, a
    |degrees|-group histogram aggregate, plus an anti-join of the
    distinct-user frame for the zero row — all frames from ``deg``
    onward are node- or domain-sized, never event-sized.
    """
    ev = table(spark, sf_dir, "events")
    edges, sym = _coactivity_graph(spark, sf_dir)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    zero = (
        ev.select("user_id").distinct()
        .join(deg, F.col("user_id") == F.col("u"), "left_anti")
        .select(F.lit(0).alias("d"))
    )
    return (
        deg.select("d")
        .unionAll(zero)
        .groupBy(F.col("d").cast("long").alias("degree"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )


# every vertex w within two hops of u (w ≠ u), with repeats
_HOP2_CTE = """, hop2 AS (
      SELECT e1.u, e2.v AS w
      FROM sym e1 JOIN sym e2 ON e2.u = e1.v
      WHERE e2.v <> e1.u
      UNION ALL
      SELECT u, v AS w FROM sym
    )"""


def _two_hop(sym: DataFrame) -> DataFrame:
    """Engine side of :data:`_HOP2_CTE`: (u, w) rows, one per 2-hop
    walk plus one per edge, for a distinct-count to collapse."""
    e2 = sym.select(F.col("u").alias("mid"), F.col("v").alias("w"))
    return (
        sym.join(e2, F.col("v") == F.col("mid"))
        .filter(F.col("w") != F.col("u"))
        .select("u", "w")
        .unionAll(sym.select("u", F.col("v").alias("w")))
    )


@register(
    "graph_two_hop_reach",
    oracle=f"""
    WITH {_COACTIVITY_CTE}{_HOP2_CTE}, deg AS (
      SELECT u, COUNT(*) AS d FROM sym GROUP BY u
    )
    SELECT h.u AS user_id,
           CAST(d.d AS BIGINT) AS degree,
           CAST(COUNT(DISTINCT h.w) AS BIGINT) AS reach_2hop
    FROM hop2 h JOIN deg d ON d.u = h.u
    GROUP BY h.u, d.d
    """,
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth reach census: per node, degree and the distinct
    vertex count within ≤2 hops — the neighborhood-growth signal
    (local expander vs clustered) that complements the global
    distance-free metrics (CC, PageRank) and the local triangle
    census; in an abuse pipeline, 2-hop reach ≫ degree flags
    broker/bridge accounts.

    Plan/scale: the shared capped-bucket edge build
    (:func:`_coactivity_graph`, one shuffle), then the 2-hop set is
    ONE self-join of the symmetric edge list keyed on the shared
    endpoint — the wedge walk, Σ deg²-bounded like the triangle and
    link-prediction rows (the degree histogram row measures that
    bound on this exact graph) — unioned with the 1-hop list and
    collapsed by a distinct-count aggregate. Output is node-sized.
    """
    _, sym = _coactivity_graph(spark, sf_dir)
    hop2 = _two_hop(sym)
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    return (
        hop2.join(deg, "u")
        .groupBy(F.col("u").alias("user_id"), F.col("d"))
        .agg(F.countDistinct("w").alias("reach_2hop"))
        .select(
            "user_id",
            F.col("d").cast("long").alias("degree"),
            F.col("reach_2hop").cast("long"),
        )
    )


BFS_MAX_DEPTH = 3  # bounded-depth closure from the smallest-id seed


def _bfs_recursion_sql(sym_src: str, graph_cte: str = "") -> str:
    """The dialect-shared RECURSION text (Spark 4 executes
    `WITH RECURSIVE` natively since SPARK-24497; DuckDB always has),
    parameterized by the symmetric-edge relation and the CTEs that
    define it: the engine recurses over the MATERIALIZED
    (localCheckpoint) edge view — Spark re-evaluates non-recursive
    CTEs at every recursion level, so recursing over the raw
    edge-build chain re-ran the whole co-activity build per level
    (measured 23s at sf0.1; checkpointed form is seconds) — while the
    oracle puts :data:`_COACTIVITY_CTE` ahead of the same recursion."""
    return f"""
    WITH RECURSIVE {graph_cte}seed AS (
      SELECT MIN(u) AS u FROM {sym_src}
    ), walk(u, depth) AS (
      SELECT u, 0 FROM seed WHERE u IS NOT NULL
      UNION ALL
      SELECT DISTINCT s.v, w.depth + 1
      FROM walk w JOIN {sym_src} s ON s.u = w.u
      WHERE w.depth < {BFS_MAX_DEPTH}
    ), md AS (
      SELECT u, MIN(depth) AS d FROM walk GROUP BY u
    )
    SELECT CAST(d AS BIGINT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM md GROUP BY d
    """


@register(
    "graph_reach_bfs_recursive",
    oracle=_bfs_recursion_sql("sym", _COACTIVITY_CTE + ","),
)
def graph_reach_bfs_recursive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-depth BFS closure via Spark 4's NATIVE recursive CTE
    (`WITH RECURSIVE`, SPARK-24497) — a mechanism-parity row: the
    IDENTICAL query text runs on both engines (the seed's min-depth
    frontier census to depth {BFS_MAX_DEPTH} over the co-activity
    graph), exercising the engine's recursion operator rather than
    the DataFrame-loop form the scale-path rows use
    (:func:`connected_components`' checkpointed O(log n) rounds, LPA,
    k-core).

    Scale contract: the recursive arm SELECTs DISTINCT per level, so
    each level is bounded by |nodes| rows instead of enumerating
    deg^depth PATHS (the naive UNION ALL form measured 27.5s at
    sf0.1 where this form is seconds — no visited set, but the
    per-level dedup caps total work at depth·|edges|). Still an
    ego/bounded-depth mechanism: full-graph closure at 100 TB stays
    on the checkpointed alternating-CC loop, and this row documents
    the boundary between the two. The depth guard bounds recursion
    well under Spark's cteRecursionLevelLimit.
    """
    _, sym = _coactivity_graph(spark, sf_dir)
    view = "sym_bfs_r7"
    sym.createOrReplaceTempView(view)
    return spark.sql(_bfs_recursion_sql(view))


CC_DELTA_MOD = 5  # edges with md5(u:v) % 5 = 0 arrive as the delta


@register(
    "graph_cc_incremental_batch",
    oracle=f"""
    WITH RECURSIVE {_DOC_CHAIN_CTE}, {_COMPONENT_CTE}, sizes AS (
      SELECT lbl AS component_id, COUNT(*) AS component_size FROM comp
      GROUP BY lbl
    )
    SELECT CAST(component_size AS BIGINT) AS component_size,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(component_size) AS BIGINT) AS n_nodes
    FROM sizes GROUP BY component_size
    """,
)
def graph_cc_incremental_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL connected components — the nightly dedup-graph
    maintenance loop: yesterday's component labels absorb a batch of
    new edges WITHOUT recomputing the full graph. The (source, lang)
    doc-chain edge set is split by the portable edge hash
    (``md5(u:v) % {CC_DELTA_MOD} = 0`` → the delta, ~20%; the rest →
    the base): base labels come from the O(log n) alternating
    algorithm (:func:`connected_components`), then each delta
    edge is PROJECTED onto base labels and the merge runs on the
    label-QUOTIENT graph — whose size is bounded by the number of
    delta-touched components, not the corpus. Final labels compose
    base → quotient, and the census (component-size histogram) must
    equal a from-scratch CC of the full edge set — the oracle
    recomputes exactly that via recursive reachability, so a wrong
    merge, a lost singleton, or a label collision breaks parity.

    Splitting by edge hash (not time) keeps the row oracle-checkable
    on static testdata while exercising the production contract: the
    delta merge's work is delta-proportional. At 100 TB the base
    labels are a stored table; this query prices only (a) one hash
    partition of the edge scan, (b) two broadcast-ready label joins,
    (c) alternating CC on the quotient frame — component-count-sized,
    orders of magnitude below the node count.
    """
    chained = _doc_chain_edges(spark, sf_dir)
    is_delta = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("u").cast("string"),
                        F.col("v").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % CC_DELTA_MOD
        == 0
    )
    # lazy (r10): materialized by the base CC's first digest job — the
    # eager flag only added a separate blocking job (guide §5)
    edges = chained.withColumn("is_delta", is_delta).localCheckpoint(
        eager=False
    )
    base = edges.filter(~F.col("is_delta")).select("u", "v")
    delta = edges.filter(F.col("is_delta")).select("u", "v")
    # every node in the graph (base AND delta endpoints) gets a base
    # label; nodes unseen by the base edge set stay singletons
    nodes = (
        edges.select("u")
        .union(edges.select(F.col("v").alias("u")))
        .distinct()
    )
    base_lbl = (
        nodes.join(connected_components(base), "u", "left")
        .select("u", F.coalesce("lbl", "u").alias("lbl"))
        # lazy (r10): forced by the quotient CC's first digest, which
        # reads base_lbl through the lu/lv joins
        .localCheckpoint(eager=False)
    )
    lu = base_lbl.select(
        F.col("u").alias("du"), F.col("lbl").alias("lu")
    )
    lv = base_lbl.select(
        F.col("u").alias("dv"), F.col("lbl").alias("lv")
    )
    quotient = (
        delta.join(lu, delta["u"] == lu["du"])
        .join(lv, delta["v"] == lv["dv"])
        .filter(F.col("lu") != F.col("lv"))
        .select(F.col("lu").alias("u"), F.col("lv").alias("v"))
        .distinct()
    )
    q_lbl = connected_components(quotient).select(
        F.col("u").alias("qlbl_key"), F.col("lbl").alias("qlbl")
    )
    final = base_lbl.join(
        q_lbl, base_lbl["lbl"] == q_lbl["qlbl_key"], "left"
    ).select(
        "u", F.coalesce("qlbl", "lbl").alias("component_id")
    )
    sizes = final.groupBy("component_id").agg(
        F.count("*").alias("component_size")
    )
    return sizes.groupBy("component_size").agg(
        F.count("*").cast("long").alias("n_components"),
        F.sum("component_size").cast("long").alias("n_nodes"),
    ).select(
        F.col("component_size").cast("long").alias("component_size"),
        "n_components",
        "n_nodes",
    )


HYPERBALL_TOL = 0.05  # per-node |est − exact| ≤ tol·exact (+1 slack)


@register(
    "graph_hyperball_reach_floor",
    oracle=f"""
    WITH {_COACTIVITY_CTE}{_HOP2_CTE}
    SELECT h.u AS user_id,
           CAST(COUNT(DISTINCT h.w) AS BIGINT) AS reach_2hop,
           TRUE AS within_tol
    FROM hop2 h
    GROUP BY h.u
    """,
)
def graph_hyperball_reach_floor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One HyperBall iteration (Boldi & Vigna 2013 — the canonical
    web-scale neighborhood-function / effective-diameter algorithm):
    each node keeps a FIXED-SIZE HLL sketch of its ball; round t
    unions every neighbor's round-(t−1) sketch. Here: closed 1-hop
    sketches (``hll_sketch_agg``) → one union round
    (``hll_union_agg`` over the edge join) → |ball₂(v)| estimates,
    verified per node against the EXACT 2-hop reach (the
    ``graph_two_hop_reach`` wedge walk) with the sketch-family
    tolerance harness: the emitted boolean claims
    |est − (exact+1)| ≤ {HYPERBALL_TOL}·(exact+1) + 1 (the +1s: the
    closed ball includes the node itself; sparse-mode HLL at lgK=14
    is near-exact at these neighborhood sizes), and the oracle pins
    it TRUE beside independently computed exact counts.

    Why this matters at 100 TB: the exact wedge walk is Σdeg²-bounded
    and the t-hop generalization explodes combinatorially, while
    HyperBall rounds are each ONE edges⋈sketches join + ONE grouped
    register union of fixed-size blobs — t rounds cost t·|E| regardless
    of ball sizes. The exact anchor here is the correctness harness
    only; production keeps sketches."""
    _, sym = _coactivity_graph(spark, sf_dir)
    closed = sym.unionAll(
        sym.select("u").distinct().select(
            F.col("u"), F.col("u").alias("v")
        )
    )
    sk1 = closed.groupBy("u").agg(
        F.expr("hll_sketch_agg(v, 14)").alias("sk")
    )
    sk1 = sk1.localCheckpoint(eager=True)  # feeds both union arms
    neighbor_sketches = sym.join(
        sk1.select(F.col("u").alias("v"), "sk"), "v"
    ).select("u", "sk")
    ball2 = (
        neighbor_sketches.unionAll(sk1.select("u", "sk"))
        .groupBy("u")
        .agg(
            F.expr(
                "CAST(hll_sketch_estimate(hll_union_agg(sk))"
                " AS DOUBLE)"
            ).alias("est")
        )
    )
    exact = _two_hop(sym).groupBy("u").agg(
        F.countDistinct("w").alias("reach_2hop")
    )
    closed_exact = F.col("reach_2hop") + 1  # the ball includes self
    return exact.join(ball2, "u").select(
        F.col("u").alias("user_id"),
        F.col("reach_2hop").cast("long").alias("reach_2hop"),
        (
            F.abs(F.col("est") - closed_exact)
            <= F.lit(HYPERBALL_TOL) * closed_exact + F.lit(1.0)
        ).alias("within_tol"),
    )
