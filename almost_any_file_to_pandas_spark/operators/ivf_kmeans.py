"""Learned-quantizer (k-means) IVF: the served top-k and its nprobe
recall curve, both oracle-checked.

The sign-bit IVF curve (``sim_ivf_nprobe_recall_curve``) proved the
tuning methodology, but the quantizer actually recommended for a
100 TB corpus is the LEARNED one (``ivf_k_for_corpus`` k-means
inverted lists). ONE index serves queries and gets tuned:
:func:`kmeans_ivf_candidates` trains, assigns, probes and scores it,
and both ``sim_ivf_kmeans_topk`` (nprobe = ``IVF_NPROBE``) and
``sim_ivf_kmeans_nprobe_curve`` read its candidates, so the curve
measures the recall of the index the engine serves. The trainer is a
DETERMINISTIC Lloyd's iteration both engines reproduce exactly:

- **seeds**: the k smallest-``vec_id`` vectors (k from
  ``ivf_k_for_corpus`` — both engines derive it from the corpus count);
- **distance**: integer-q12 squared L2 — every (x−c)² term is scaled
  by 1e12 and floored to a BIGINT *before* summation, so the sum is
  exact int64 arithmetic, independent of accumulation order, and
  bit-identical across engines (±*/ on doubles are IEEE-exact
  cross-engine; ln/exp are not — never used here);
- **means**: per-dimension DECIMAL(30,15) sums divided by the member
  count, rounded to 12 decimals (the ``emb_label_margin_audit``
  recipe — order-independent, cross-engine exact);
- **rounds**: a fixed 2 Lloyd's iterations (empty clusters keep their
  previous centroid on both sides).

Scale shape (100 TB): each round's ASSIGNMENT is one narrow map pass —
the ≤k-row centroid frame is collapsed into a single broadcast row and
every vector computes its argmin inside ``transform``/``array_min``
(no shuffle, no UDF); the MEAN step shuffles only (k × d) group keys.
At production scale the quantizer trains on a bounded sample; the
full corpus then takes ONE assignment pass to materialize bucket ids
(the hash-partitioning key for the inverted lists). The curve
generates candidates ONCE at the widest probe depth and re-ranks
through (nprobe, query) windows — one corpus pass for all curve
points, the same plan spine as the sign-bit curve.

Reference parity: extends the reference's aggregate surface
(main.py:416-466 computes max/mode/shape summaries) with the
similarity-search operators a training-data pipeline needs; no
counterpart exists in the reference to copy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import register, table_wide
from almost_any_file_to_pandas_spark.operators.similarity import (
    IVF_K,
    IVF_NPROBE,
    IVF_TARGET_BUCKET_ROWS,
    KNN_K,
    N_QUERIES,
    NPROBE_CURVE,
    _NPROBE_CURVE_SQL,
    _cosine_sql,
    _list_balance_sql,
    _probed_cand_sql,
    _top_k,
    ivf_k_for_corpus,
    list_balance,
    nprobe_recall_curve,
    probed_candidates,
)

LLOYD_ROUNDS = 2


def _sqdist_q12(a, b):
    """Integer-q12 squared L2 distance between two double arrays.

    Each (x−y)² term is floored to a BIGINT at 1e12 scale BEFORE the
    sum: the total is exact int64 arithmetic, so it is independent of
    accumulation order and identical across engines. Term bound:
    embedding values are |x| < 1, so a term is < 4e12 and a 64-dim
    sum < 3e14 — far inside int64.
    """
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.floor(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * F.lit(1e12)
                + F.lit(0.5)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sqdist_q12_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`_sqdist_q12` (operands must be DOUBLE[])."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> CAST(FLOOR((p[1]-p[2])*(p[1]-p[2])*1e12 + 0.5) AS BIGINT)),"
        " (x, y) -> x + y)"
    )


def _argmin_cid(cents_col, vec_col):
    """cid of the nearest centroid: array_min over (distance, cid)
    structs — order-independent, ties break to the smallest cid,
    mirroring the oracle's ``ORDER BY dist, cid`` rank-1 pick."""
    return F.array_min(
        F.transform(
            cents_col,
            lambda c: F.struct(
                _sqdist_q12(vec_col, c["cvec"]).alias("d"),
                c["cid"].alias("cid"),
            ),
        )
    )["cid"]


# Data contract for the integer-q12 distance arithmetic: embedding
# components must satisfy |x| <= Q12_SAFE_ABS. Per-term bound is then
# (2A)²·1e12 = 2.56e14 and a 256-dim sum < 6.6e16 — three orders of
# magnitude inside int64 (the driver corpus is |x| < 1, dim 64). The
# trainer trips a one-time seed-sample check below; out-of-contract
# embeddings must be rescaled upstream, silently overflowing q12
# terms would corrupt assignments on BOTH engines identically
# (r6 ADVICE).
Q12_SAFE_ABS = 8.0


# Small-corpus regime bound for the Lloyd's trainer (r10 — the
# CC_DRIVER_EDGE_CAP pattern): under this row count the training
# frame is ≤ ~32 MB at dim 64 (the SEMANTIC_FIT_SAMPLE index-build
# collect class already used by the semantic-dedup backend since
# round 7), and the distributed trainer's per-round shuffles +
# blocking checkpoint jobs are pure overhead (measured: 2.8 s warm on
# a 2,000-vector corpus for microseconds of arithmetic). The driver
# path replicates the EXACT arithmetic contract — integer-q12
# distances, DECIMAL(30,15) half-up-quantized mean sums via the
# JVM's string-path double→decimal semantics, half-up round to 12 —
# so centroids are bit-identical to the distributed loop (a regime
# test pins equality; the oracles pin DuckDB parity). At or above the
# cap the distributed loop runs unchanged.
KMEANS_DRIVER_ROW_CAP = 1 << 16  # 65,536 vectors


def _driver_lloyd(rows: list, k: int) -> list:
    """Exact driver-side Lloyd's over collected (vec_id, v) rows —
    the arithmetic twin of the distributed loop below (see
    KMEANS_DRIVER_ROW_CAP). Returns [(cid, [cval...])]."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    if not rows:
        return []
    rows = sorted(rows, key=lambda r: r[0])
    seed = [list(v) for _, v in rows[:k]]
    cents = [list(c) for c in seed]
    mat = np.array([v for _, v in rows], dtype=np.float64)
    q15 = Decimal(1).scaleb(-15)
    q12 = Decimal(1).scaleb(-12)
    # SUM(CAST(val AS DECIMAL(30,15))) addends: the JVM casts via
    # Double.toString → setScale(15, HALF_UP); repr() produces the
    # same shortest decimal string.
    # Assumption: Python repr() == JVM Double.toString.
    # Only JDK >= 19 guarantees the shortest string (JDK-4511638);
    # JDK 17 (tested on 17.0.20) may print a longer one for some
    # doubles, which could round the scale-15 cast differently.
    # test_kmeans_driver_regime_matches_distributed
    # (tests/test_round10_opt.py) is the guard.
    # A vector's addends do not change across rounds, so they are
    # quantized once. Under the Q12_SAFE_ABS contract their Decimal
    # sums stay exact (≤ 21 significant digits, inside the context's
    # 28), so summation order is free.
    addends = [
        [Decimal(repr(x)).quantize(q15, ROUND_HALF_UP) for x in row]
        for row in mat.tolist()
    ]
    for _ in range(LLOYD_ROUNDS):
        c_arr = np.array(cents, dtype=np.float64)  # (k, d)
        # integer-q12 squared L2 per (vector, centroid): floor each
        # term BEFORE the sum, exactly like _sqdist_q12 (int64 sum —
        # float64 addition would round past 2^53)
        diff = mat[:, None, :] - c_arr[None, :, :]
        terms = np.floor(diff * diff * 1e12 + 0.5).astype(np.int64)
        dists = terms.sum(axis=2, dtype=np.int64)
        assign = dists.argmin(axis=1)  # first min == smallest cid
        new_cents = []
        for cid in range(len(cents)):
            members = [addends[i] for i in np.flatnonzero(assign == cid)]
            if not members:
                new_cents.append(cents[cid])  # empty keeps previous
                continue
            cvec = [
                float(
                    Decimal(repr(float(sum(col)) / len(members))).quantize(
                        q12, ROUND_HALF_UP
                    )
                )
                for col in zip(*members)
            ]
            new_cents.append(cvec)
        cents = new_cents
    return list(enumerate(cents))


def deterministic_kmeans_centroids(
    spark: SparkSession, emb: DataFrame, k: int
) -> DataFrame:
    """LLOYD_ROUNDS deterministic Lloyd's iterations over ``emb``
    (``vec_id``, ``v`` double array) → (``cid``, ``cvec``).

    Each round: collapse the ≤k centroids into ONE broadcast row,
    assign every vector map-side (no shuffle), recompute means with a
    (k × d)-key groupBy. ``localCheckpoint`` per round keeps the plan
    from re-executing prior rounds' assignments (lineage doubles per
    round otherwise) — the frame is k rows, so the checkpoint is free.

    Two regimes (:data:`KMEANS_DRIVER_ROW_CAP`, read at call time): a
    corpus whose row count sits under the cap trains on the driver
    with bit-identical arithmetic; above it the distributed loop below
    runs unchanged. One ``limit(cap).collect()`` both gates and fetches
    (fewer than cap rows back means the corpus is under the cap), so
    the collect is bounded by the cap either way.

    Guards the :data:`Q12_SAFE_ABS` data contract with a one-time
    check on the seed frame (bounded — a k-row tripwire, not a corpus
    proof; the contract itself is the documented bound).
    """
    collected = emb.limit(KMEANS_DRIVER_ROW_CAP).collect()
    if len(collected) < KMEANS_DRIVER_ROW_CAP:
        rows = [
            (r["vec_id"], list(r["v"]))
            for r in collected
            if r["v"] is not None
        ]
        dims = {len(v) for _, v in rows}
        # degenerate inputs (null vectors, ragged dims) keep the
        # distributed loop's null/zip semantics — only the clean
        # uniform case takes the driver regime
        if len(rows) == len(collected) and len(dims) <= 1:
            seed_vals = [x for _, v in sorted(rows)[:k] for x in v]
            over = max((abs(x) for x in seed_vals), default=None)
            if over is not None and over > Q12_SAFE_ABS:
                raise ValueError(
                    f"embedding components reach |x|={over:.3g} > "
                    f"Q12_SAFE_ABS={Q12_SAFE_ABS}: integer-q12 "
                    "distance terms would overflow int64 — rescale "
                    "the embeddings upstream"
                )
            return spark.createDataFrame(
                _driver_lloyd(rows, k), "cid int, cvec array<double>"
            )
    wseed = W.orderBy("vec_id")  # bounded: runs on the ≤k-row seed frame
    # k-row checkpoint: the contract tripwire and the seed selection
    # share ONE TakeOrdered pass over the corpus
    seed = emb.orderBy("vec_id").limit(k).localCheckpoint(eager=True)
    over = seed.agg(
        F.max(
            F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
        ).alias("m")
    ).first()["m"]
    if over is not None and over > Q12_SAFE_ABS:
        raise ValueError(
            f"embedding components reach |x|={over:.3g} > "
            f"Q12_SAFE_ABS={Q12_SAFE_ABS}: integer-q12 distance terms "
            "would overflow int64 — rescale the embeddings upstream"
        )
    cents = (
        seed
        .select(
            (F.row_number().over(wseed) - 1).cast("int").alias("cid"),
            F.col("v").alias("cvec"),
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(LLOYD_ROUNDS):
        crow = cents.agg(
            F.collect_list(F.struct("cid", "cvec")).alias("cs")
        )
        assigned = emb.crossJoin(F.broadcast(crow)).select(
            F.col("v"), _argmin_cid(F.col("cs"), F.col("v")).alias("cid")
        )
        means = (
            assigned.select("cid", F.posexplode("v").alias("dim_idx", "val"))
            .groupBy("cid", "dim_idx")
            .agg(
                F.round(
                    F.sum(F.col("val").cast("decimal(30,15)")).cast("double")
                    / F.count("*"),
                    12,
                ).alias("cval")
            )
        )
        newc = means.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim_idx", "cval"))),
                lambda s: s["cval"],
            ).alias("cvec_new")
        )
        cents = (
            cents.join(newc, "cid", "left")
            .select(
                "cid", F.coalesce("cvec_new", "cvec").alias("cvec")
            )
            .localCheckpoint(eager=False)
        )
    return cents


def _kmeans_cents_sql(
    k_floor: int = IVF_K,
    target: int = IVF_TARGET_BUCKET_ROWS,
    e_sql: str = "SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings",
    k_fixed_sql: str | None = None,
) -> str:
    """CTE chain producing the final deterministic centroids ``c2``
    (plus the double-cast corpus ``e``) — shared by the curve,
    balance, and deterministic-SemDeDup oracles. ``k_floor``/
    ``target`` parameterize the quantizer sizing rule (defaults:
    the IVF index; the semantic dedup twin passes its own);
    ``e_sql``/``k_fixed_sql`` let a NON-embedding feature frame train
    with a fixed k (the RFM segmentation twin) — defaults emit the
    byte-identical chain the existing oracles pin."""
    d1 = _sqdist_q12_sql("e.v", "c.cvec")
    kk_body = (
        k_fixed_sql
        if k_fixed_sql is not None
        else (
            "SELECT GREATEST(CAST({ivf_k} AS BIGINT),\n"
            "                      CAST(CEIL(COUNT(*) * 1.0 / {target})"
            " AS BIGINT)) AS k\n      FROM e"
        ).format(ivf_k=k_floor, target=target)
    )
    parts = [
        """
    e AS (
      {e_sql}
    ), kk AS (
      {kk_body}
    ), c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
               AS cid,
             v AS cvec
      FROM e, kk
      QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= k
    )""".format(e_sql=e_sql, kk_body=kk_body)
    ]
    prev = "c0"
    for r in (1, 2):
        parts.append(
            f"""
    a{r} AS (
      SELECT e.vec_id, e.v, c.cid
      FROM e CROSS JOIN {prev} c
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {d1}, c.cid) = 1
    ), m{r} AS (
      SELECT cid, u.i AS dim_idx,
             ROUND(CAST(SUM(CAST(u.x AS DECIMAL(30,15))) AS DOUBLE)
                   / COUNT(*), 12) AS cval
      FROM a{r},
           LATERAL (
             SELECT unnest(generate_series(1, len(v))) AS i,
                    unnest(v) AS x
           ) u
      GROUP BY cid, u.i
    ), c{r} AS (
      SELECT p.cid, COALESCE(n.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(cval ORDER BY dim_idx) AS cvec
        FROM m{r} GROUP BY cid
      ) n USING (cid)
    )"""
        )
        prev = f"c{r}"
    return ",".join(parts)


def _kmeans_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The learned IVF index over ``embeddings``: the double-cast
    corpus ``(vec_id, v)``, its ``ivf_k_for_corpus`` deterministic
    Lloyd's centroids ``(cid, cvec)``, and the corpus with ONE bucket
    per vector ``(vec_id, v, bucket)``, assigned map-side against the
    one-broadcast-row centroid array. The driver-side ``count()`` sizes
    the quantizer — bounded index-build orchestration, not a data
    path. :func:`_kmeans_ivf_assigned_sql` is the DuckDB twin."""
    emb = table_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    k = ivf_k_for_corpus(emb.count())
    cents = deterministic_kmeans_centroids(spark, emb, k)
    crow = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cs"))
    assigned = emb.crossJoin(F.broadcast(crow)).select(
        "vec_id",
        "v",
        _argmin_cid(F.col("cs"), F.col("v")).alias("bucket"),
    )
    return emb, cents, assigned


def _kmeans_ivf_assigned_sql() -> str:
    """CTE chain ending in ``assigned`` (``vec_id, v, bucket``) — the
    DuckDB twin of :func:`_kmeans_ivf_index` (``e`` and ``c2`` come
    from :func:`_kmeans_cents_sql`)."""
    return f"""{_kmeans_cents_sql()}, assigned AS (
      SELECT e.vec_id, e.v, c.cid AS bucket
      FROM e CROSS JOIN c2 c
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id
        ORDER BY {_sqdist_q12_sql('e.v', 'c.cvec')}, c.cid) = 1
    )"""


def kmeans_ivf_candidates(
    spark: SparkSession, sf_dir: str, nprobe: int
) -> DataFrame:
    """The learned IVF index and its in-probe candidates — the ONE
    implementation behind the served top-k (:func:`sim_ivf_kmeans_topk`,
    nprobe = ``IVF_NPROBE``) and the tuning curve
    (:func:`sim_ivf_kmeans_nprobe_curve`, its widest point):

    - **train** and **assign**: :func:`_kmeans_ivf_index`;
    - **probe**: each of the first ``N_QUERIES`` vectors probes its
      ``nprobe`` nearest centroids by integer-q12 L2 (tie-break
      bucket), ranked 1..nprobe;
    - **candidates**: :func:`similarity.probed_candidates` over the
      one-pass assigned corpus.

    Returns ``(query_id, probe_rank, bucket, vec_id, cosine)``.
    :func:`_kmeans_ivf_cand_sql` is the DuckDB twin.
    """
    emb, cents, assigned = _kmeans_ivf_index(spark, sf_dir)
    wp = W.partitionBy("query_id").orderBy(F.asc("d"), F.asc("bucket"))
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qvec"))
        .crossJoin(F.broadcast(cents.withColumnRenamed("cid", "bucket")))
        .withColumn("d", _sqdist_q12(F.col("qvec"), F.col("cvec")))
        .withColumn("probe_rank", F.row_number().over(wp))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "qvec", "bucket", "probe_rank")
    )
    return probed_candidates(assigned, probes, "v")


def _kmeans_ivf_cand_sql(nprobe: int) -> str:
    """CTE chain ending in ``cand`` — the DuckDB twin of
    :func:`kmeans_ivf_candidates`, shared by the top-k and curve
    oracles."""
    return f"""{_kmeans_ivf_assigned_sql()}, probes AS (
      SELECT q.vec_id AS query_id, q.v AS qvec, c.cid AS bucket,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sqdist_q12_sql('q.v', 'c.cvec')}, c.cid)
               AS probe_rank
      FROM e q CROSS JOIN c2 c
      WHERE q.vec_id < {N_QUERIES}
      QUALIFY probe_rank <= {nprobe}
    ), {_probed_cand_sql('assigned', 'v')}"""


@register(
    "sim_ivf_kmeans_topk",
    oracle=f"""
    WITH {_kmeans_ivf_cand_sql(IVF_NPROBE)}
    SELECT query_id, vec_id, bucket, cosine,
           ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, vec_id)
             AS ivf_rank
    FROM cand
    QUALIFY ivf_rank <= {KNN_K}
    """,
)
def sim_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the learned quantizer: each query probes its
    ``IVF_NPROBE`` nearest inverted lists and keeps the in-probe
    cosine top-``KNN_K`` (ties to the smaller vec_id) — the index
    :func:`sim_ivf_kmeans_nprobe_curve` tunes, served. Output
    ``(query_id, vec_id, bucket, cosine, ivf_rank)``, the contract the
    recall harness (``sim_ivf_recall``) and PQ's top-k share.

    This is the production ANN shape at 100 TB: train the quantizer on
    a sample (here: the corpus — testdata-sized), assign every vector
    ONE bucket id (a plain int column → hash-partitioned storage by
    bucket co-locates each list), and at query time touch nprobe/k of
    the data. Search cost drops ~k/nprobe-fold vs brute force at the
    recall the probe count buys.
    """
    return _top_k(
        kmeans_ivf_candidates(spark, sf_dir, IVF_NPROBE), KNN_K, "ivf_rank"
    ).select("query_id", "vec_id", "bucket", "cosine", "ivf_rank")


@register(
    "sim_ivf_kmeans_nprobe_curve",
    oracle=f"""
    WITH {_kmeans_ivf_cand_sql(max(NPROBE_CURVE))}, {_NPROBE_CURVE_SQL}""",
)
def sim_ivf_kmeans_nprobe_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@k vs nprobe for the LEARNED (k-means) IVF quantizer —
    the tuning curve for the index the engine serves
    (:func:`sim_ivf_kmeans_topk` is its nprobe = ``IVF_NPROBE`` point),
    oracle-paired end-to-end because the training loop is the
    deterministic integer-exact Lloyd's of
    :func:`deterministic_kmeans_centroids`.

    For each nprobe ∈ {1, 2, 4, 8}: take the in-probe cosine top-k
    over the nprobe nearest lists and score hits against the exact
    brute-force top-k (:func:`sim_knn_batch` — same batch, same
    rounding). One row per nprobe: hit/evaluable counts + integer q6
    macro recall.

    Plan: :func:`kmeans_ivf_candidates` generates candidates ONCE at
    the widest probe depth; :func:`similarity.nprobe_recall_curve`,
    shared with the sign-bit curve, re-ranks that scored frame
    through a (nprobe, query) window for every point.
    """
    return nprobe_recall_curve(
        spark, sf_dir, kmeans_ivf_candidates(spark, sf_dir, max(NPROBE_CURVE))
    )


@register(
    "sim_ivf_kmeans_bucket_balance",
    oracle=f"""
    WITH {_kmeans_ivf_assigned_sql()}, {_list_balance_sql('assigned')}""",
)
def sim_ivf_kmeans_bucket_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-list balance audit for the LEARNED quantizer — the
    twin of ``sim_ivf_bucket_balance`` (sign-bit) over the
    deterministic Lloyd's lists, so the 100 TB index recommendation
    carries its own skew evidence: per occupied list, its size,
    corpus share (q6), and load factor (size / mean size, q6). Lloyd's
    equalizes within-list variance, not counts — this row is how the
    probe-cost and skew-join risk of that choice get measured rather
    than assumed.

    Plan: the one-broadcast-row argmin assignment (narrow), then
    :func:`similarity.list_balance`, shared with the sign-bit twin —
    the operator's cost is the assignment scan.
    """
    return list_balance(_kmeans_ivf_index(spark, sf_dir)[2])


_SEM_SQDIST_F = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> (p[1]-p[2])*(p[1]-p[2])), (x, y) -> x + y)"
)


def _sem_det_oracle() -> str:
    from almost_any_file_to_pandas_spark.operators.dedup import (
        EMBEDDING_DUP_THRESHOLD,
        SEMANTIC_CLUSTER_K,
        SEMANTIC_TARGET_CLUSTER_ROWS,
    )

    dfl = _SEM_SQDIST_F.format(a="e.v", b="c.cvec")
    cos = _cosine_sql("a.v", "b.v")
    return f"""
    WITH {_kmeans_cents_sql(SEMANTIC_CLUSTER_K,
                            SEMANTIC_TARGET_CLUSTER_ROWS)}, top2 AS (
      -- the parent pipeline's float sq-dist fold (sequential over
      -- dims -> bit-identical across engines), ties to smaller cid
      SELECT e.vec_id, e.v, c.cid AS cluster
      FROM e CROSS JOIN c2 c
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {dfl}, c.cid) <= 2
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({cos}, 6) AS cosine
    FROM top2 a JOIN top2 b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE {cos} >= {EMBEDDING_DUP_THRESHOLD}
    """


@register("dedup_semantic_clusters_det", oracle=_sem_det_oracle())
def dedup_semantic_clusters_det(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULLY oracle-paired SemDeDup: the exact
    ``dedup_semantic_clusters`` pipeline — top-2 multi-probe
    assignment, in-cluster exact-cosine verification at the duplicate
    threshold, pair dedup — with ONLY the quantizer fit swapped from
    the driver-side numpy Lloyd's to
    :func:`deterministic_kmeans_centroids`. That swap
    upgrades the family's correctness evidence from rows-only + floor
    to a full value-hash pair: centroids, float sq-dist assignments
    (the sequential fold is bit-identical across engines), kernel
    cosines (the numpy fold matches the declarative form by the grid
    block-NL contract), and the emitted pair set are all reproduced
    by DuckDB.

    Scale shape: identical to the parent (the pair search reuses
    ``_semantic_pairs_from_centers`` verbatim — per-cluster Arrow
    kernel, quadratic unit bounded by the cluster cap); the
    deterministic trainer adds the ivf_kmeans cost model (narrow
    broadcast-row assignment per round, (k × d)-key mean shuffles).
    The production fit still trains on a sample; this twin is the
    oracle-checkable statement of the SEMANTICS.
    """
    from almost_any_file_to_pandas_spark.operators.dedup import (
        SEMANTIC_CLUSTER_K,
        SEMANTIC_TARGET_CLUSTER_ROWS,
        _semantic_pairs_from_centers,
    )

    emb = table_wide(spark, sf_dir, "embeddings")
    embd = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = embd.count()
    k = max(SEMANTIC_CLUSTER_K, -(-n // SEMANTIC_TARGET_CLUSTER_ROWS))
    cents = deterministic_kmeans_centroids(spark, embd, k).select(
        F.col("cid").alias("cluster"), F.col("cvec").alias("center")
    )
    return _semantic_pairs_from_centers(emb, cents)
