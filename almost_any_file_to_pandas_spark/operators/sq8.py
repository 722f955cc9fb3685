"""SQ8 scalar quantization — the third production ANN compression
path next to PQ (``pq.py``) and the coarse IVF quantizers
(``similarity.py`` / ``ivf_kmeans.py``).

SQ8 stores each dimension as ONE byte: a global per-dimension
``[lo, hi]`` range learned in one aggregation pass, then
``code = round((x − lo) · 255 / (hi − lo))`` and the search-side
reconstruction ``lo + code · (hi − lo) / 255``. That is 4× smaller
than float32 with near-lossless recall — the FAISS ``SQ8`` default —
and unlike PQ it needs no codebook training, so it is the first
compression step a 100 TB embedding corpus actually takes.

Everything here is EXACTLY oracle-paired (not a floor claim): the
quantizer is deterministic given per-dim min/max, and every arithmetic
step is either exact int64 or an identical IEEE double expression on
both engines (±*/ round deterministically and identically; no
transcendentals anywhere). The constant-dimension edge (hi == lo)
short-circuits to ``lo`` on both sides — the unguarded division would
produce ±inf and an overflowing FLOOR cast.

Scale shape: the range pass is one (d)-key aggregation; encode and
reconstruct are NARROW maps against a single broadcast row carrying
the d (lo, hi) pairs — no shuffle, no UDF; the asymmetric search
(raw query × reconstructed corpus) scores with the shared rounded
cosine and top-k window of ``similarity.py`` (``rounded_cosine``,
``_top_k``). The raw query and the reconstructed corpus are different
vectors, so ``sim_knn_batch``'s query-batch scorer
(``_score_query_batch``, one embedding column on both sides) does not
apply. The recall rows go through the shared recall harness
(``ann_recall_q6``: one hit join against ``sim_knn_batch``'s exact
top-k) and IVFSQ8 through the shared sign-bit probe ranker
(``sign_bit_probes``, ``probed_candidates``), each with its DuckDB
twin.

Reference parity: extends the reference's aggregate surface
(main.py:416-466) with the similarity operators a training-data
pipeline needs; nothing comparable exists in the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import register, table_wide
from almost_any_file_to_pandas_spark.operators.similarity import (
    IVF_NPROBE,
    KNN_K,
    N_QUERIES,
    _ANN_RECALL_Q6_SQL,
    _ivf_bucket_expr,
    _ivf_bucket_sql,
    _probed_cand_sql,
    _rounded_cosine_sql,
    _sign_bit_probes_sql,
    _top_k,
    ann_recall_q6,
    probed_candidates,
    rounded_cosine,
    sign_bit_probes,
)

# macro recall@5 of SQ8 asymmetric search measured 1.0 at sf0.01 —
# 255 levels on unit-scale dims is near-lossless; the floor leaves
# room for adversarial range skew
SQ8_RECALL_FLOOR_Q6 = 950_000


def _sq8_recon(vcol, lhcol):
    """Reconstructed (dequantized) vector: encode + decode fused into
    one ``zip_with`` — code = clamp(floor((x−lo)·255/(hi−lo)+0.5)),
    recon = lo + code·(hi−lo)/255. Identical expression order to the
    SQL twin; constant dims (hi == lo) short-circuit to lo."""
    return F.zip_with(
        vcol,
        lhcol,
        lambda x, s: F.when(s["hi"] == s["lo"], s["lo"]).otherwise(
            s["lo"]
            + F.least(
                F.greatest(
                    F.floor(
                        (x - s["lo"])
                        * F.lit(255.0)
                        / (s["hi"] - s["lo"])
                        + F.lit(0.5)
                    ),
                    F.lit(0).cast("long"),
                ),
                F.lit(255).cast("long"),
            )
            * (s["hi"] - s["lo"])
            / F.lit(255.0)
        ),
    )


def _sq8_recon_sql(v: str, lh: str) -> str:
    """DuckDB twin of :func:`_sq8_recon` (`v` DOUBLE[], `lh` a list of
    (lo, hi) structs aligned by dimension)."""
    return (
        f"list_transform(list_zip({v}, {lh}),"
        " p -> CASE WHEN p[2].hi = p[2].lo THEN p[2].lo"
        " ELSE p[2].lo + LEAST(GREATEST("
        "FLOOR((p[1] - p[2].lo) * 255 / (p[2].hi - p[2].lo) + 0.5)"
        ", 0), 255) * (p[2].hi - p[2].lo) / 255 END)"
    )


_SQ8_CTES = f"""
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), dims AS (
      SELECT u.i AS dim_idx, MIN(u.x) AS lo, MAX(u.x) AS hi
      FROM e, LATERAL (
        SELECT unnest(generate_series(1, len(v))) AS i,
               unnest(v) AS x
      ) u
      GROUP BY u.i
    ), lh AS (
      SELECT list(struct_pack(lo := lo, hi := hi) ORDER BY dim_idx)
               AS lh
      FROM dims
    ), recon AS (
      SELECT e.vec_id, {_sq8_recon_sql('e.v', 'l.lh')} AS rv
      FROM e, lh l
    )"""

# twin of _sq8_topk: the SQ8 top-k as CTE ``picks``
_SQ8_TOPK_SQL = f"""{_SQ8_CTES}, picks AS (
      SELECT q.vec_id AS query_id, x.vec_id,
             {_rounded_cosine_sql('x.rv', 'q.v')} AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_rounded_cosine_sql('x.rv', 'q.v')} DESC,
                        x.vec_id) AS rank
      FROM e q JOIN recon x ON x.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
      QUALIFY rank <= {KNN_K}
    )"""


def _sq8_corpus_and_ranges(spark: SparkSession, sf_dir: str):
    """(corpus double-cast, single-row (lo,hi)-ranges frame) — the
    quantizer-build spine shared by every SQ8 operator, factored so
    a future range change (e.g. percentile clipping) cannot fork the
    exactly-oracle-paired family."""
    emb = table_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        emb.select(F.posexplode("v").alias("dim_idx", "x"))
        .groupBy("dim_idx")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    )
    lh_row = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_idx", "lo", "hi"))),
            lambda s: F.struct(s["lo"].alias("lo"), s["hi"].alias("hi")),
        ).alias("lh")
    )
    return emb, lh_row


def _sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared engine spine: per query (vec_id < N_QUERIES), the KNN_K
    corpus vectors nearest by asymmetric cosine (raw query ×
    reconstructed corpus), ranked in ``rank``. Twin:
    ``_SQ8_TOPK_SQL``."""
    emb, lh_row = _sq8_corpus_and_ranges(spark, sf_dir)
    recon = emb.crossJoin(F.broadcast(lh_row)).select(
        "vec_id", _sq8_recon(F.col("v"), F.col("lh")).alias("rv")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    scored = recon.join(F.broadcast(q), recon.vec_id != q.query_id).select(
        "query_id",
        "vec_id",
        rounded_cosine(F.col("rv"), F.col("qvec")).alias("cosine"),
    )
    return _top_k(scored, KNN_K, "rank")


def _sq8_recall_row(
    spark: SparkSession, sf_dir: str, picks: DataFrame, floor_q6: int
) -> DataFrame:
    """The SQ8 recall row: :func:`similarity.ann_recall_q6` of
    ``picks`` plus the claim ``recall_q6 ≥ floor_q6``. Empty/singleton
    corpora yield zero evaluable queries → recall 0, floor vacuously
    true. Twin: :func:`_sq8_recall_sql`."""
    return ann_recall_q6(spark, sf_dir, picks).selectExpr(
        "n_queries",
        f"CAST({KNN_K} AS BIGINT) AS k",
        "n_hits",
        "recall_q6",
        f"CASE WHEN n_exact = 0 THEN TRUE ELSE recall_q6 >= {floor_q6}"
        " END AS recall_floor_met",
    )


def _sq8_recall_sql(floor_q6: int) -> str:
    """The oracle tail after a ``picks`` CTE — the DuckDB twin of
    :func:`_sq8_recall_row`."""
    return f"""{_ANN_RECALL_Q6_SQL}
    SELECT n_queries, CAST({KNN_K} AS BIGINT) AS k, n_hits, recall_q6,
           CASE WHEN n_exact = 0 THEN TRUE
                ELSE recall_q6 >= {floor_q6} END AS recall_floor_met
    FROM recall
    """


@register(
    "sim_sq8_topk",
    oracle=f"""
    WITH {_SQ8_TOPK_SQL}
    SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank
    FROM picks
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric SQ8 top-k for the query batch: the corpus is scored
    from its one-byte-per-dim reconstruction, queries stay full
    precision (the FAISS asymmetric-distance convention — it halves
    the quantization noise for free). Exact oracle parity end-to-end:
    the quantizer is deterministic, so the oracle reproduces codes,
    reconstructions, cosines, and ranks bit-for-bit."""
    return _sq8_topk(spark, sf_dir).select(
        "query_id", "vec_id", "cosine", F.col("rank").cast("long")
    )


@register(
    "sim_sq8_recall",
    oracle=f"""
    WITH {_SQ8_TOPK_SQL}, {_sq8_recall_sql(SQ8_RECALL_FLOOR_Q6)}""",
)
def sim_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Macro recall@k of SQ8 asymmetric search against the exact kNN
    baseline (:func:`sim_knn_batch` — same batch, same rounding) —
    EXACTLY oracle-paired, stronger than the IVF/PQ floor rows: both
    engines recompute the quantizer, the search, the hit counts, and
    the integer q6 recall (:func:`_sq8_recall_row`)."""
    return _sq8_recall_row(
        spark, sf_dir, _sq8_topk(spark, sf_dir), SQ8_RECALL_FLOOR_Q6
    )


# macro recall@5 of IVFSQ8 (sign-bit coarse, nprobe=4, SQ8-scored
# lists) measured 0.44 at sf0.01 / 0.38 at sf0.001 — the coarse
# pruning, not the SQ8 codes, is what recall pays for (SQ8 alone
# measures 1.0; the nprobe curves quantify the pruning trade)
IVFSQ8_RECALL_FLOOR_Q6 = 300_000


@register(
    "sim_ivfsq8_recall",
    oracle=f"""
    WITH {_SQ8_CTES}, b AS (
      SELECT e.vec_id, e.v, r.rv,
             {_ivf_bucket_sql('e.v')} AS bucket
      FROM e JOIN recon r USING (vec_id)
    ), {_sign_bit_probes_sql('b', 'v', IVF_NPROBE)},
    {_probed_cand_sql('b', 'rv')}, picks AS (
      SELECT query_id, vec_id FROM cand
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, vec_id) <= {KNN_K}
    ), {_sq8_recall_sql(IVFSQ8_RECALL_FLOOR_Q6)}""",
)
def sim_ivfsq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFSQ8 — the FAISS-default index shape (IVF coarse lists +
    one-byte scalar-quantized list entries) — with an EXACTLY
    oracle-paired recall audit, something the IVFPQ row cannot offer
    (PQ codebooks are k-means-trained; SQ8 is deterministic, so both
    engines rebuild the whole index bit-for-bit).

    Search: sign-bit coarse buckets, Hamming probe order (nprobe =
    {IVF_NPROBE}), asymmetric cosine over the SQ8 reconstruction
    inside probed lists, top-k per query, scored against the exact
    kNN baseline. At 100 TB this is the memory contract that matters:
    lists hold 1 byte/dim (16× smaller than the raw corpus working
    set), and a probe touches nprobe/2^bits of them.

    Plan: ONE narrow pass attaches (bucket, reconstructed vector) to
    every row — the SQ8 ranges and the probe table are broadcast; the
    candidate join is bucket-keyed; everything downstream operates on
    ≤ queries × probed-list rows.
    """
    emb, lh_row = _sq8_corpus_and_ranges(spark, sf_dir)
    b = emb.crossJoin(F.broadcast(lh_row)).select(
        "vec_id",
        "v",
        _sq8_recon(F.col("v"), F.col("lh")).alias("rv"),
        _ivf_bucket_expr(F.col("v")).alias("bucket"),
    )
    cand = probed_candidates(b, sign_bit_probes(b, "v", IVF_NPROBE), "rv")
    return _sq8_recall_row(
        spark, sf_dir, _top_k(cand, KNN_K, "_r"), IVFSQ8_RECALL_FLOOR_Q6
    )
