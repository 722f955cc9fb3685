"""Product quantization (PQ) for embedding search — the memory-bound
ANN path (reference scope: none — extension surface alongside the IVF
family in :mod:`.similarity`).

PQ splits each D-dim vector into M subspaces, k-means-codes each
subspace with K centroids, and stores only the M code bytes — here
64-dim float32 (256 B) → 8 codes of 4 bits (8 B stored as one byte
each), a 32× compression. Queries score candidates with **asymmetric
distance computation** (ADC): per query, an M×K lookup table of
subspace dot products is built once, and every stored vector's score
is M table gathers — no float vector ever touched at scan time. At
100 TB this is the difference between an in-memory index and a disk
scan: the coded corpus is ~3% the size of the raw one.

Spark shape:
- **Train** on a bounded, deterministic sample (``ORDER BY vec_id
  LIMIT n``) pulled to the driver — the quantizer-training collect is
  O(sample), constant in corpus size (the production pattern: train on
  a sample, broadcast the codebooks). NOT a data-path collect.
- **Encode** with one narrow Arrow-batched ``mapInPandas`` stage
  (vectorized argmin over the broadcast codebooks), no shuffle.
- **Score** with a second narrow stage that also does per-batch local
  top-k (numpy lexsort over the SAME (rounded-cosine desc, vec_id asc)
  total order the global window uses — a tie at the local cut can
  therefore never drop a global winner, keeping results
  partitioning-independent), so the only shuffle — the final
  per-query window — sees ``partitions × queries × k`` rows, not
  ``corpus × queries``.

All Lloyd's-based queries are rows-only for the driver gate (k-means
is not SQL-expressible); recall is measured against the exact
``sim_knn_batch`` baseline by the recall harness ``sim_ivf_recall``
also runs on (``similarity.ann_recall``, ``ann_recall_floor``).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.similarity import (
    IVF_BITS,
    KNN_K,
    N_QUERIES,
    _RECALL_FLOOR_ORACLE,
    _top_k,
    ann_recall,
    ann_recall_floor,
    rounded_cosine,
)
from almost_any_file_to_pandas_spark.plans import register, table_wide

# The Arrow kernels call this module's encode and local top-k helpers:
# ship them to the Python workers by value, so a worker never has to
# import the package (its path is on the driver's sys.path only).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

PQ_M = 8  # subspaces
PQ_K = 256  # codes per subspace (8 bits, the standard PQ setting)
PQ_ITERS = 10  # Lloyd's iterations per subspace
PQ_TRAIN_SAMPLE = 2048  # bounded training sample (constant in corpus size)


def _train_sample(emb: DataFrame):
    """The bounded deterministic training fetch: the PQ_TRAIN_SAMPLE
    smallest vec_ids, as one pandas frame (vec_id, embedding) — ONE
    TakeOrdered job.  Because any vec_id < N_QUERIES is by definition
    among the smallest PQ_TRAIN_SAMPLE ids (N_QUERIES ≪ sample), the
    query batch is a slice of this same fetch: callers that need both
    the codebooks and the query vectors pay a single Spark job."""
    return (
        emb.orderBy("vec_id")
        .limit(PQ_TRAIN_SAMPLE)
        .select("vec_id", "embedding")
        .toPandas()
    )


def _fit_codebooks(X: np.ndarray) -> np.ndarray:
    """Per-subspace Lloyd's on a driver-side matrix, shape (M, K, D/M).

    Deterministic: fixed init (first K sample rows per subspace),
    fixed iteration count; empty clusters keep their previous
    centroid.
    """
    n, dim = X.shape
    sub = dim // PQ_M
    # effective codebook width: never more centroids than training
    # rows (identical to PQ_K at any real SF — the deterministic
    # first-K init needs K distinct rows to copy)
    k_eff = min(PQ_K, n)
    # All M subspaces iterate together: per Lloyd's round, ONE
    # (n, dim) @ (dim, M·K) block-diagonal GEMM yields every
    # subspace's query·centroid dot products at once (the per-subspace
    # skinny GEMMs — k=sub — were BLAS-overhead-bound and dominated
    # the whole query's wall time; the (n, K, sub) broadcast temp
    # before that was worse still).  argmin over ‖s−c‖² needs only
    # ‖c‖² − 2s·c per subspace.
    books = np.stack(
        [X[:k_eff, m * sub : (m + 1) * sub].copy() for m in range(PQ_M)]
    )  # (M, K, sub) — deterministic init: first K rows per subspace
    bd = np.zeros((dim, PQ_M * k_eff))
    Xr = X.reshape(n, PQ_M, sub)
    for _ in range(PQ_ITERS):
        for m in range(PQ_M):
            bd[m * sub : (m + 1) * sub, m * k_eff : (m + 1) * k_eff] = (
                books[m].T
            )
        dots = X @ bd  # (n, M·K)
        c2 = (books**2).sum(axis=2)  # (M, K)
        d2 = c2.reshape(1, -1) - 2.0 * dots
        assign = d2.reshape(n, PQ_M, k_eff).argmin(axis=2)  # (n, M)
        flat = (assign + np.arange(PQ_M)[None, :] * k_eff).ravel()
        counts = np.bincount(flat, minlength=PQ_M * k_eff).astype(float)
        sums = np.column_stack(
            [
                np.bincount(
                    flat,
                    weights=Xr[:, :, d].ravel(),
                    minlength=PQ_M * k_eff,
                )
                for d in range(sub)
            ]
        ).reshape(PQ_M, k_eff, sub)
        nonempty = counts.reshape(PQ_M, k_eff) > 0
        books[nonempty] = (
            sums[nonempty] / counts.reshape(PQ_M, k_eff)[nonempty, None]
        )
    return books


def _matrix(frame: pd.DataFrame) -> np.ndarray:
    """The ``embedding`` column of a pandas frame as a float64 matrix."""
    return np.stack(frame["embedding"].to_numpy()).astype(np.float64)


def _train_codebooks(emb: DataFrame):
    """Codebooks straight from the DataFrame (one fetch + fit);
    ``None`` when the corpus is empty — callers short-circuit."""
    sample = _train_sample(emb)
    if len(sample) == 0:
        return None
    return _fit_codebooks(_matrix(sample))


def _pq_index(emb: DataFrame):
    """What both ADC searches score with, from ONE training fetch (the
    query batch is a slice of it): ``(books, q_ids, Q, q_norms, lut,
    cn2)`` — the codebooks, the first N_QUERIES vec_ids and their
    vectors and norms, the dot LUT (nq, M, K) and the code-norm² LUT
    (M, K). ``None`` when the corpus is empty."""
    sample = _train_sample(emb)
    if len(sample) == 0:
        return None
    books = _fit_codebooks(_matrix(sample))
    queries = sample[sample["vec_id"] < N_QUERIES].sort_values("vec_id")
    Q = _matrix(queries)
    lut = np.einsum(
        "qmd,mkd->qmk", Q.reshape(len(Q), PQ_M, books.shape[2]), books
    )
    return (
        books,
        queries["vec_id"].to_numpy(),
        Q,
        np.linalg.norm(Q, axis=1),
        lut,
        (books**2).sum(axis=2),
    )


def pq_codes(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """Each row's nearest centroid per subspace, shape (n, M)."""
    sub = books.shape[2]
    codes = np.empty((len(X), PQ_M), dtype=np.int32)
    for m in range(PQ_M):
        S = X[:, m * sub : (m + 1) * sub]
        # argmin of ‖s−c‖² needs only −2s·c + ‖c‖² (GEMM form)
        d2 = (books[m] ** 2).sum(axis=1)[None, :] - 2.0 * (S @ books[m].T)
        codes[:, m] = d2.argmin(axis=1)
    return codes


def _local_top(q_id, vec_ids, cos, k: int) -> pd.DataFrame:
    """One query's ``k`` best candidates of a batch. The local top-k
    bounds the shuffle volume; its (rounded cosine desc, vec_id asc)
    total order matches the global window's, so the local cut can
    never drop a global winner on a rounded-cosine tie — results stay
    partitioning-independent."""
    top = np.lexsort((vec_ids, -np.round(cos, 6)))[:k]
    return pd.DataFrame(
        {
            "query_id": q_id,
            "vec_id": vec_ids[top],
            "pq_cosine": np.round(cos[top], 6),
        }
    )


def pq_encode(emb: DataFrame, books: np.ndarray) -> DataFrame:
    """Encode each vector to M subspace codes (one narrow Arrow stage)."""

    def _encode(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            yield pd.DataFrame(
                {
                    "vec_id": batch["vec_id"].to_numpy(),
                    "codes": list(pq_codes(_matrix(batch), books)),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        _encode, schema="vec_id bigint, codes array<int>"
    )


@register("sim_pq_topk")  # rows-only: k-means codebooks, not SQL-expressible
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k by PQ/ADC for the first N_QUERIES vectors.

    Output: (query_id, vec_id, pq_cosine, pq_rank ≤ KNN_K) — the same
    contract as ``sim_ivf_kmeans_topk`` so the recall harness composes.

    ``pq_cosine`` reconstructs both the dot product and the candidate
    norm from the code tables (dot̂ = Σ_m LUT[m, code_m]; ‖x̂‖² =
    Σ_m ‖c_{m,code_m}‖²) — the full ADC formulation, no raw candidate
    vector read after encoding.
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    index = _pq_index(emb)
    if index is None:  # empty corpus: nothing to index or query
        return spark.createDataFrame(
            [],
            "query_id bigint, vec_id bigint, pq_cosine double,"
            " pq_rank int",
        )
    books, q_ids, _, q_norms, lut, cn2 = index

    def _score(batches):
        col = np.arange(PQ_M)
        for batch in batches:
            if len(batch) == 0:
                continue
            vec_ids = batch["vec_id"].to_numpy()
            codes = np.stack(batch["codes"].to_numpy())  # (n, M)
            dots = lut[:, col, codes[:, col]].sum(axis=2)  # (nq, n)
            norms = np.sqrt(cn2[col, codes[:, col]].sum(axis=1))  # (n,)
            cos = dots / (q_norms[:, None] * norms[None, :])
            k = min(KNN_K + 1, cos.shape[1])
            yield pd.concat(
                [
                    _local_top(q_id, vec_ids, cos[qi], k)
                    for qi, q_id in enumerate(q_ids)
                ],
                ignore_index=True,
            )

    codes = pq_encode(emb, books)
    scored = codes.mapInPandas(
        _score, schema="query_id bigint, vec_id bigint, pq_cosine double"
    ).filter(F.col("query_id") != F.col("vec_id"))
    w = W.partitionBy("query_id").orderBy(F.desc("pq_cosine"), F.asc("vec_id"))
    return scored.withColumn("pq_rank", F.row_number().over(w)).filter(
        F.col("pq_rank") <= KNN_K
    )


@register("sim_pq_recall")  # rows-only: composes sim_pq_topk
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of PQ/ADC search against the exact kNN baseline, per
    query (:func:`similarity.ann_recall`) — the acceptance metric for
    any quantized index rollout."""
    return ann_recall(spark, sf_dir, sim_pq_topk(spark, sf_dir))


@register("sim_pq_reconstruction")  # rows-only: k-means codebooks
def sim_pq_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PQ quality summary: mean squared reconstruction
    error and the compression ratio — one row. The tuning signal for
    (M, K): error falls as either grows, storage grows as M·log2(K).
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    books = _train_codebooks(emb)
    if books is None:  # empty corpus: no vectors, no error summary
        return spark.createDataFrame(
            [],
            "mean_sq_error double, raw_bytes_per_vec int,"
            " coded_bytes_per_vec int, compression_x double",
        )
    sub = books.shape[2]
    dim = PQ_M * sub

    def _err(batches):
        for batch in batches:
            if len(batch) == 0:
                continue
            X = _matrix(batch)
            err = np.zeros(len(X))
            for m in range(PQ_M):
                S = X[:, m * sub : (m + 1) * sub]
                d2 = (
                    (S**2).sum(axis=1)[:, None]
                    - 2.0 * (S @ books[m].T)
                    + (books[m] ** 2).sum(axis=1)[None, :]
                )
                err += np.maximum(d2.min(axis=1), 0.0)
            yield pd.DataFrame(
                {"n": [len(X)], "sse": [err.sum()]}
            )

    parts = emb.select("embedding").mapInPandas(
        _err, schema="n bigint, sse double"
    )
    raw_bytes = dim * 4
    coded_bytes = PQ_M  # one byte per code (4 bits packable to PQ_M/2)
    return parts.agg(
        F.round(F.sum("sse") / F.sum("n"), 6).alias("mean_sq_error"),
        F.lit(raw_bytes).alias("raw_bytes_per_vec"),
        F.lit(coded_bytes).alias("coded_bytes_per_vec"),
        F.round(F.lit(raw_bytes / coded_bytes), 2).alias("compression_x"),
    )


# Property-oracle floors: the Lloyd's-based metrics above are rows-only
# (k-means is not SQL-expressible), but their *acceptance properties*
# are hash-checkable — the engine emits the claim as a boolean anchored
# to SQL-expressible counts, and the oracle pins it TRUE (the sketch-
# tolerance pattern of ``events_approx_distinct``). If quantizer
# quality ever regresses below the floor, the hash gate turns red.

PQ_RECALL_FLOOR = 0.4  # macro recall@5 observed 0.62 at sf0.01
PQ_MSE_CEIL = 0.5  # mean squared reconstruction error observed 0.108


@register("sim_pq_recall_floor", oracle=_RECALL_FLOOR_ORACLE)
def sim_pq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked acceptance gate over :func:`sim_pq_recall`: one row
    claiming macro recall@k ≥ PQ_RECALL_FLOOR, anchored to the query
    count the oracle derives independently."""
    return ann_recall_floor(sim_pq_recall(spark, sf_dir), PQ_RECALL_FLOOR)


@register(
    "sim_pq_reconstruction_bound",
    oracle="""
    SELECT COUNT(*) AS n_vectors,
           CAST(32.0 AS DOUBLE) AS compression_x,
           TRUE AS mse_below_tol
    FROM embeddings
    """,
)
def sim_pq_reconstruction_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked acceptance gate over :func:`sim_pq_reconstruction`:
    corpus size and compression ratio anchor the row; the boolean
    claims mean squared reconstruction error ≤ PQ_MSE_CEIL."""
    emb = table_wide(spark, sf_dir, "embeddings")
    stats = sim_pq_reconstruction(spark, sf_dir)
    n = emb.agg(F.count("*").alias("n_vectors"))
    if not stats.head(1):
        # empty corpus: reconstruction has no summary; the bound row
        # still exists (0 vectors, nominal ratio, vacuous claim) —
        # engine-side only, matching the frozen oracle's constants
        return spark.createDataFrame(
            [(0, 32.0, True)],
            "n_vectors bigint, compression_x double,"
            " mse_below_tol boolean",
        )
    return n.crossJoin(
        stats.select(
            (F.col("raw_bytes_per_vec") / F.col("coded_bytes_per_vec"))
            .cast("double")
            .alias("compression_x"),
            (F.col("mean_sq_error") <= F.lit(PQ_MSE_CEIL)).alias(
                "mse_below_tol"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF + PQ combined (the production ANN composition): coarse-quantize
# the corpus into IVF buckets, ADC-score ONLY the probed buckets with
# the PQ codes, exact-rerank a bounded shortlist. This is the FAISS
# IVFPQ shape — the two index families above compose into the index
# actually deployed at 100 TB (IVF bounds the candidate volume, PQ
# bounds the bytes per candidate, the rerank restores exactness at
# the top of the list).
# ---------------------------------------------------------------------------

IVFPQ_SHORTLIST = 4 * KNN_K  # PQ-ranked candidates kept per query
IVFPQ_RECALL_FLOOR = 0.3  # macro recall@KNN_K vs exact (measured 0.62)


@register("sim_ivfpq_topk")  # rows-only: k-means codebooks + Lloyd's
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN: IVF coarse buckets (sign-bit hyperplane
    quantizer, Hamming-1 multi-probe) prune the corpus, PQ/ADC scores
    the surviving codes, and the exact cosine re-ranks the
    ``IVFPQ_SHORTLIST`` best per query.

    Plan: ONE narrow pass computes (vec_id, bucket, codes); the
    bucket→probing-queries map is a driver-side constant (N_QUERIES
    bounded); ADC scoring is one Arrow stage emitting per-batch local
    top-shortlist rows only (the shuffle carries ≤ batches×shortlist
    rows per query, never the corpus); the re-rank joins the tiny
    shortlist BROADCAST against the embeddings scan, so raw vectors
    are read a second time only for shortlist members — the IVFPQ
    memory contract (full vectors never co-resident with the index).
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    index = _pq_index(emb)
    if index is None:  # empty corpus: nothing to index or query
        return spark.createDataFrame(
            [],
            "query_id bigint, vec_id bigint, cosine double, rank int",
        )
    books, q_ids, Q, q_norms, lut, cn2 = index

    # Hamming-1 multi-probe: each query probes its own bucket plus
    # every single-bit flip — (IVF_BITS+1) of the 2^IVF_BITS buckets
    def _bucket_of(v: np.ndarray) -> int:
        return int(sum((1 << j) for j in range(IVF_BITS) if v[j] > 0.0))

    probes: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        b0 = _bucket_of(Q[qi])
        for b in {b0} | {b0 ^ (1 << j) for j in range(IVF_BITS)}:
            probes.setdefault(b, []).append(qi)

    # ONE fused narrow Arrow pass: encode → bucket → ADC-score — no
    # join and no shuffle before the shortlist window (an earlier
    # encode→join(bucket)→score chain paid a corpus shuffle just to
    # reunite columns computed from the same row)
    def _encode_bucket_score(batches):
        col = np.arange(PQ_M)
        for batch in batches:
            if len(batch) == 0:
                continue
            X = _matrix(batch)
            vec_ids_all = batch["vec_id"].to_numpy()
            codes = pq_codes(X, books)
            buckets = (
                (X[:, :IVF_BITS] > 0.0) * (1 << np.arange(IVF_BITS))
            ).sum(axis=1)
            out = []
            for bucket in np.unique(buckets):
                qis = probes.get(int(bucket))
                if not qis:
                    continue
                sel = buckets == bucket
                vec_ids = vec_ids_all[sel]
                c = codes[sel]
                norms = np.sqrt(cn2[col, c[:, col]].sum(axis=1))
                for qi in qis:
                    dots = lut[qi, col, c[:, col]].sum(axis=1)
                    cos = dots / (q_norms[qi] * norms)
                    out.append(
                        _local_top(
                            q_ids[qi],
                            vec_ids,
                            cos,
                            min(IVFPQ_SHORTLIST, len(cos)),
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    scored = (
        emb.select("vec_id", "embedding")
        .mapInPandas(
            _encode_bucket_score,
            schema="query_id bigint, vec_id bigint, pq_cosine double",
        )
        .filter(F.col("query_id") != F.col("vec_id"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc("pq_cosine"), F.asc("vec_id")
    )
    shortlist = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= IVFPQ_SHORTLIST)
        .select("query_id", "vec_id")
    )
    qdf = spark.createDataFrame(
        [
            (int(q), [float(x) for x in Q[i]])
            for i, q in enumerate(q_ids)
        ],
        "query_id bigint, qvec array<double>",
    )
    rerank = (
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "vec_id",
            rounded_cosine(F.col("v"), F.col("qvec")).alias("cosine"),
        )
    )
    return _top_k(rerank, KNN_K, "rank")


@register("sim_ivfpq_recall_floor", oracle=_RECALL_FLOOR_ORACLE)
def sim_ivfpq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked acceptance gate for the composed IVFPQ index:
    macro recall@k of :func:`sim_ivfpq_topk` against the exact kNN
    baseline must clear ``IVFPQ_RECALL_FLOOR`` (multi-probe + rerank
    measured 0.62 at sf0.01; the floor leaves headroom for unlucky
    hyperplane splits), anchored to the query count the oracle derives
    independently — the same contract as the IVF and PQ floors it
    composes."""
    return ann_recall_floor(
        ann_recall(spark, sf_dir, sim_ivfpq_topk(spark, sf_dir)),
        IVFPQ_RECALL_FLOOR,
    )
