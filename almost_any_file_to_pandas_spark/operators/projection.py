"""Random-projection (Johnson–Lindenstrauss) embedding sketch.

The third leg of the ANN family next to IVF (coarse quantization) and
PQ (subspace quantization): project 64-dim embeddings onto
``PROJ_DIMS`` signed-sum components (Achlioptas 2001 — ±1 entries
suffice for the JL guarantee; no Gaussians needed) and search in the
sketch space. Dot products drop from O(64) to O(PROJ_DIMS) per
candidate and the sketch fits 4× more vectors per executor page —
the classic memory/recall trade of a 100 TB vector corpus.

The ±1 weight matrix is DETERMINISTIC and engine-portable: entry
``w(j, d)`` is the low bit of ``md5(f"{j}:{d}")``, computed ONCE in
Python at import time and embedded as a literal array in both the
Spark plan and the generated oracle SQL — exactly how a real deploy
ships a (learned or random) projection matrix: a broadcast constant,
never recomputed per row. (A first cut derived ``w`` per element from
a single-step LCG of ``j·p1 + d·p2`` — an AFFINE map, so matrix rows
were shifted copies of one quasi-periodic bit sequence and recall@20
collapsed to ~0.1; independent md5 bits fixed it. Single-step linear
congruences are not hashes.)

Scale shape: projection is one narrow map over the scan (interpreted
JVM higher-order functions — no Python, no shuffle); top-k in sketch
space is a TakeOrderedAndProject; the distortion-bound query pairs a
pushed-down broadcast-sized sample. Nothing materializes the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.similarity import cosine_expr
from almost_any_file_to_pandas_spark.plans import register, table_wide

PROJ_DIMS = 16
SRC_DIMS = 64  # embeddings table dimensionality (TESTDATA.md)
JL_QUERY_VEC_ID = 0
JL_TOP_K = 20
JL_SAMPLE = 32  # vectors in the distortion-bound pair sample
# squared-distance ratio ||W(a-b)||^2 / (k * ||a-b||^2) concentrates
# at 1 (each component of W(a-b) has variance ||a-b||^2 for ±1 rows;
# the normalized ratio is ~ chi^2_16/16, stddev sqrt(2/k) ~ 0.35) but
# the EXTREMES over 496 pairs ride the chi-square tails; measured:
# [0.247, 2.186] at sf0.001, [0.298, 2.771] at sf0.01,
# [0.221, 2.327] at sf0.1 — bounds set with margin outside every
# measurement (tail prob of exceeding them per pair < 1e-5)
JL_RATIO_LO = 0.1
JL_RATIO_HI = 3.5


def _w(j: int, d: int) -> float:
    """±1 weight: the low bit of md5("j:d") — independent fair bits."""
    import hashlib

    digest = hashlib.md5(f"{j}:{d}".encode()).digest()
    return 1.0 if digest[-1] & 1 else -1.0


W = tuple(
    tuple(_w(j, d) for d in range(SRC_DIMS)) for j in range(PROJ_DIMS)
)


def project_expr(emb: Column) -> Column:
    """array<double> of ``PROJ_DIMS`` signed sums over the embedding:
    each component is zip_with(embedding, literal ±1 row) folded with
    a left-to-right sum — the identical sequential fold the oracle's
    ``list_reduce`` performs, so doubles agree bit-for-bit."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    emb.cast("array<double>"),
                    F.array(*[F.lit(w) for w in row]),
                    lambda x, w: x * w,
                ),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            for row in W
        ]
    )


def _proj_sql(emb_expr: str) -> str:
    """DuckDB list expression projecting ``emb_expr`` through the same
    literal matrix."""
    comps = ", ".join(
        f"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(list_zip({emb_expr}::DOUBLE[],
              [{', '.join(str(w) for w in row)}]::DOUBLE[]),
              p -> p[1] * p[2])),
            (a, b) -> a + b)"""
        for row in W
    )
    return f"[{comps}]"


_COS_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]),"
    " (x, y) -> x + y)"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _COS_SQL_DOT.format(a=a, b=b)
    na = f"sqrt({_COS_SQL_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_COS_SQL_DOT.format(a=b, b=b)})"
    return f"({dot} / ({na} * {nb}))"


_PROJ_CTE = f"""
    proj AS (
      SELECT vec_id, label, {_proj_sql('embedding')} AS pv
      FROM embeddings
    ),
    q AS (
      SELECT pv AS qv FROM proj WHERE vec_id = {JL_QUERY_VEC_ID}
    ),
    sketch_ranked AS (
      SELECT p.vec_id, p.label,
             {_cos_sql('p.pv', 'q.qv')} AS raw_cos
      FROM proj p CROSS JOIN q
      WHERE p.vec_id <> {JL_QUERY_VEC_ID}
    )
"""


@register(
    "sim_jl_projection_topk",
    oracle=f"""
    WITH {_PROJ_CTE}
    SELECT vec_id, label, ROUND(raw_cos, 6) AS proj_cosine
    FROM sketch_ranked
    ORDER BY raw_cos DESC, vec_id ASC
    LIMIT {JL_TOP_K}
    """,
)
def sim_jl_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``JL_TOP_K`` neighbours of query vector ``vec_id=0`` by
    cosine IN THE 16-DIM SKETCH SPACE — the cheap first pass a
    two-stage retrieval reranks with full-precision vectors.

    Honest caveat, measured: on this synthetic corpus the exact
    top-20 cosines sit in a ~0.13-wide band (0.37→0.24 at sf0.01,
    near-orthogonal vectors), far inside the k=16 sketch's ~√(2/k)
    distortion, so sketch-space rank overlap with the exact top-20 is
    near the 20/n chance floor. That is a property of gap vs. k — the
    JL contract this family *does* guarantee is the distance bound
    pinned by ``sim_jl_distortion_bound``; a production deployment
    sizes k to the observed neighbor gap (k ≳ 8·ln n / gap²).

    Plan: one narrow projection map over the scan, broadcast of the
    single projected query row, TakeOrderedAndProject for the top-k.
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id", "label", project_expr(F.col("embedding")).alias("pv")
    )
    q = proj.filter(F.col("vec_id") == JL_QUERY_VEC_ID).select(
        F.col("pv").alias("qv")
    )
    return (
        proj.filter(F.col("vec_id") != JL_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            cosine_expr(F.col("pv"), F.col("qv")).alias("raw_cos"),
        )
        .orderBy(F.desc("raw_cos"), F.asc("vec_id"))
        .limit(JL_TOP_K)
        .select(
            "vec_id", "label", F.round("raw_cos", 6).alias("proj_cosine")
        )
    )


_SQDIST_SQL = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(list_zip({a}, {b}), p -> (p[1] - p[2]) * (p[1] - p[2]))),"
    " (x, y) -> x + y)"
)


@register(
    "sim_jl_distortion_bound",
    oracle=f"""
    WITH sample AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_proj_sql('embedding')} AS pv
      FROM embeddings WHERE vec_id < {JL_SAMPLE}
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             {_SQDIST_SQL.format(a='a.v', b='b.v')} AS d2,
             {_SQDIST_SQL.format(a='a.pv', b='b.pv')} AS p2
      FROM sample a JOIN sample b ON a.vec_id < b.vec_id
    ),
    ratios AS (
      SELECT p2 / ({PROJ_DIMS} * d2) AS r FROM pairs WHERE d2 > 0
    )
    SELECT COUNT(*) AS n_pairs,
           ROUND(MIN(r), 6) AS min_ratio,
           ROUND(MAX(r), 6) AS max_ratio,
           MIN(r) >= {JL_RATIO_LO} AND MAX(r) <= {JL_RATIO_HI}
             AS within_bound
    FROM ratios
    """,
)
def sim_jl_distortion_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JL lemma itself, as a hash-checkable contract: over all
    pairs of a ``JL_SAMPLE``-vector sample, the squared-distance ratio
    ``||W(a−b)||² / (k·||a−b||²)`` must lie in
    [``JL_RATIO_LO``, ``JL_RATIO_HI``] — for ±1 entries each projected
    component of (a−b) has variance ``||a−b||²``, so the normalized
    ratio concentrates at 1 with stddev √(2/k).

    This — not top-k recall — is what random projection guarantees:
    DISTANCES survive; whether *ranking* survives depends on whether
    neighbor gaps exceed the distortion (see the top-k query's
    docstring for why they don't on this corpus).

    Plan: the sample filter pushes to the scan (``vec_id <
    {JL_SAMPLE}`` is a parquet min/max prune at scale); the pair join
    is over a broadcast-sized sample; one row out.
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    sample = emb.filter(F.col("vec_id") < JL_SAMPLE).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        project_expr(F.col("embedding")).alias("pv"),
    )

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    a = sample.select(
        F.col("vec_id").alias("ia"),
        F.col("v").alias("va"),
        F.col("pv").alias("pa"),
    )
    b = sample.select(
        F.col("vec_id").alias("ib"),
        F.col("v").alias("vb"),
        F.col("pv").alias("pb"),
    )
    pairs = a.join(F.broadcast(b), F.col("ia") < F.col("ib")).select(
        sqdist(F.col("va"), F.col("vb")).alias("d2"),
        sqdist(F.col("pa"), F.col("pb")).alias("p2"),
    )
    ratios = pairs.filter(F.col("d2") > 0).select(
        (F.col("p2") / (F.lit(PROJ_DIMS) * F.col("d2"))).alias("r")
    )
    return ratios.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.min("r"), 6).alias("min_ratio"),
        F.round(F.max("r"), 6).alias("max_ratio"),
        (
            (F.min("r") >= JL_RATIO_LO) & (F.max("r") <= JL_RATIO_HI)
        ).alias("within_bound"),
    )
