"""Diversity-aware retrieval: Maximal Marginal Relevance (MMR).

Plain top-k returns near-duplicates of each other when the corpus has
them (and an LLM-data corpus always does); retrieval-augmented
pipelines re-rank the candidate pool with MMR (Carbonell & Goldstein
1998): greedily pick the item maximizing
``λ·rel(q, c) − (1−λ)·max_{s∈selected} sim(c, s)``.

Scale shape — the canonical two-stage retrieval plan:
1. CANDIDATE GENERATION is distributed: one narrow cosine pass over
   the corpus + ``TakeOrderedAndProject`` keeps the top
   ``MMR_CANDIDATES`` (per-partition heaps, no global sort).
2. GREEDY RE-RANK runs on the collected candidate set — bounded at
   MMR_CANDIDATES rows by construction (an index-build-sized collect,
   like the PQ codebook), because the greedy argmax is inherently
   sequential in k and k·C is driver-trivial. No engine distributes
   this stage; the win is keeping stage 1 distributed.

Determinism contract: every cosine — Spark candidate relevance
(``F.aggregate`` fold), the oracle's ``list_reduce``, and the Python
re-rank kernel — is the SAME left-to-right sequential float fold, so
scores agree bit-for-bit and the greedy argmax (ties broken by
vec_id) picks identical items in all three places. The oracle
restates the greedy loop as K chained CTEs (one per pick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.similarity import (
    _cosine_sql,
    cosine_expr,
)
from almost_any_file_to_pandas_spark.plans import register, table_wide

MMR_QUERY_VEC_ID = 0
MMR_CANDIDATES = 50
MMR_K = 10
MMR_LAMBDA = 0.5


def _seq_cos(a, b) -> float:
    """Left-to-right sequential-fold cosine — bit-identical to the
    Spark ``F.aggregate`` fold and DuckDB ``list_reduce``."""
    import math

    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def mmr_rerank(cands, k: int, lam: float):
    """Greedy MMR over collected candidates [(vec_id, vec, rel), …];
    returns [(vec_id, rank, rel), …]. Candidates are scanned in
    ascending vec_id with a strict ``>`` improvement test, so ties
    break toward the smaller vec_id — matching the oracle's
    ORDER BY score DESC, vec_id."""
    vecs = {c[0]: c[1] for c in cands}
    rels = {c[0]: c[2] for c in cands}
    remaining = sorted(vecs)
    sim_cache: dict = {}

    def sim(a: int, b: int) -> float:
        key = (min(a, b), max(a, b))
        if key not in sim_cache:
            sim_cache[key] = _seq_cos(vecs[a], vecs[b])
        return sim_cache[key]

    picks = []
    while remaining and len(picks) < k:
        best = None
        for vid in remaining:
            if not picks:
                score = rels[vid]
            else:
                score = lam * rels[vid] - (1.0 - lam) * max(
                    sim(vid, p) for p, _, _ in picks
                )
            if best is None or score > best[0]:
                best = (score, vid)
        vid = best[1]
        picks.append((vid, len(picks) + 1, rels[vid]))
        remaining.remove(vid)
    return picks


def _mmr_oracle() -> str:
    cos_vv = _cosine_sql("a.v", "b.v")
    steps = [
        """sel1 AS MATERIALIZED (
      SELECT vec_id, relevance, 1 AS mmr_rank FROM cand
      ORDER BY relevance DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, MMR_K + 1):
        steps.append(f"""sel{i} AS MATERIALIZED (
      SELECT * FROM sel{i - 1}
      UNION ALL
      SELECT t.vec_id, t.relevance, {i} AS mmr_rank FROM (
        SELECT c.vec_id, c.relevance,
               {MMR_LAMBDA} * c.relevance
               - {1.0 - MMR_LAMBDA} * MAX(p.s) AS score
        FROM cand c
        JOIN pairsim p ON p.va = c.vec_id
          AND p.vb IN (SELECT vec_id FROM sel{i - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
        GROUP BY c.vec_id, c.relevance
        ORDER BY score DESC, c.vec_id LIMIT 1
      ) t
    )""")
    chained = ",\n    ".join(steps)
    return f"""
    WITH cand AS MATERIALIZED (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             {_cosine_sql('e.embedding', 'q.qvec')} AS relevance
      FROM embeddings e CROSS JOIN (
        SELECT embedding AS qvec FROM embeddings
        WHERE vec_id = {MMR_QUERY_VEC_ID}
      ) q
      WHERE e.vec_id <> {MMR_QUERY_VEC_ID}
      ORDER BY relevance DESC, e.vec_id LIMIT {MMR_CANDIDATES}
    ), pairsim AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, {cos_vv} AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    {chained}
    SELECT vec_id, mmr_rank, ROUND(relevance, 6) AS relevance
    FROM sel{MMR_K}
    """


@register("sim_mmr_diverse_topk", oracle=_mmr_oracle())
def sim_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diverse top-``MMR_K`` for one query vector (module
    docstring): distributed candidate generation, bounded greedy
    re-rank, oracle restated as K chained greedy CTEs."""
    emb = table_wide(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == MMR_QUERY_VEC_ID).select(
        F.col("embedding").cast("array<double>").alias("qvec")
    )
    cand = (
        emb.filter(F.col("vec_id") != MMR_QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("v"),
            cosine_expr(F.col("embedding"), F.col("qvec")).alias(
                "relevance"
            ),
        )
        .orderBy(F.desc("relevance"), F.asc("vec_id"))
        .limit(MMR_CANDIDATES)
    )
    rows = [
        (r["vec_id"], list(r["v"]), r["relevance"]) for r in cand.collect()
    ]
    picks = mmr_rerank(rows, MMR_K, MMR_LAMBDA)
    return spark.createDataFrame(
        [(vid, rank, rel) for vid, rank, rel in picks],
        schema="vec_id bigint, mmr_rank int, relevance double",
    ).select(
        "vec_id", "mmr_rank", F.round("relevance", 6).alias("relevance")
    )


HYBRID_N_QUERIES = 5  # doc/vec ids 0..4 act as the query batch
HYBRID_TOKEN_DF_CAP = 1000  # stop-token cap for the lexical index
RRF_K = 60  # the standard reciprocal-rank-fusion constant
HYBRID_TOP = 5


@register(
    "retrieval_hybrid_rrf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), kept AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, tok, COUNT(*) OVER (PARTITION BY tok) AS df
        FROM toks
      ) WHERE df <= {HYBRID_TOKEN_DF_CAP}
    ), lex AS (
      SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
             CAST(COUNT(*) AS BIGINT) AS lex_score
      FROM kept q JOIN kept c
        ON q.tok = c.tok AND q.doc_id < {HYBRID_N_QUERIES}
       AND c.doc_id <> q.doc_id
      GROUP BY 1, 2
    ), lexrank AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY lex_score DESC, doc_id) AS r_lex
      FROM lex
    ), vec AS (
      SELECT q.vec_id AS query_id, e.vec_id AS doc_id,
             ROUND({_cosine_sql('e.embedding', 'q.embedding')}, 6) AS cv
      FROM embeddings e JOIN embeddings q
        ON q.vec_id < {HYBRID_N_QUERIES} AND e.vec_id <> q.vec_id
    ), vecrank AS (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cv DESC, doc_id) AS r_vec
      FROM vec
    ), fused AS (
      SELECT COALESCE(l.query_id, v.query_id) AS query_id,
             COALESCE(l.doc_id, v.doc_id) AS doc_id,
             COALESCE(1000000 // ({RRF_K} + l.r_lex), 0)
               + COALESCE(1000000 // ({RRF_K} + v.r_vec), 0) AS rrf_q6
      FROM lexrank l
      FULL JOIN vecrank v
        ON l.query_id = v.query_id AND l.doc_id = v.doc_id
    ), final AS (
      SELECT query_id, doc_id, rrf_q6,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY rrf_q6 DESC, doc_id)
               AS hybrid_rank
      FROM fused
    )
    SELECT query_id, doc_id, rrf_q6, hybrid_rank
    FROM final WHERE hybrid_rank <= {HYBRID_TOP}
    """,
)
def retrieval_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard
    RAG first stage: a LEXICAL ranking (distinct-token overlap over a
    df-capped inverted index — the BM25 slot; swap in any scorer) and
    a VECTOR ranking (exact cosine, the brute-force slot an ANN index
    replaces at scale) are fused per query by
    ``RRF(c) = Σ_r 1/(k + rank_r(c))`` with the standard k = 60 —
    rank-based fusion needs no score calibration between the two
    modalities, which is why RRF is the production default.

    Determinism: RRF is computed as the all-integer
    ``1e6 div (k + rank)`` sum of integer ranks (ranks come from
    quantized sort keys with doc-id tie-breaks), so the fused scores
    and the final top-k are engine-exact; a float RRF would sum
    reciprocals order-dependently.

    Plan: the lexical arm broadcasts the query batch's token set
    against the df-capped index (one shuffle on token, one on
    (query, doc)); the vector arm is the `sim_knn_batch` broadcast
    scoring pass; both rank windows and the fusion join key on
    query_id — at 100 TB each arm is the already-audited shape of its
    family and the fusion moves only rank rows.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    emb = table_wide(spark, sf_dir, "embeddings")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " ", -1))
        ).alias("tok"),
    )
    kept = (
        toks.withColumn("df", F.count("*").over(W.partitionBy("tok")))
        .filter(F.col("df") <= HYBRID_TOKEN_DF_CAP)
        .drop("df")
    )
    qtoks = kept.filter(F.col("doc_id") < HYBRID_N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    lex = (
        kept.join(F.broadcast(qtoks), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("long").alias("lex_score"))
    )
    w_lex = W.partitionBy("query_id").orderBy(
        F.desc("lex_score"), F.asc("doc_id")
    )
    lexrank = lex.select(
        "query_id", "doc_id", F.row_number().over(w_lex).alias("r_lex")
    )
    queries = emb.filter(F.col("vec_id") < HYBRID_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    vec = (
        emb.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_expr(F.col("embedding"), F.col("qvec")), 6
            ).alias("cv"),
        )
    )
    w_vec = W.partitionBy("query_id").orderBy(F.desc("cv"), F.asc("doc_id"))
    vecrank = vec.select(
        "query_id", "doc_id", F.row_number().over(w_vec).alias("r_vec")
    )
    fused = (
        lexrank.join(vecrank, ["query_id", "doc_id"], "full")
        .select(
            "query_id",
            "doc_id",
            (
                F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + r_lex)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({RRF_K} + r_vec)"), F.lit(0)
                )
            ).alias("rrf_q6"),
        )
    )
    w_f = W.partitionBy("query_id").orderBy(F.desc("rrf_q6"), F.asc("doc_id"))
    return (
        fused.withColumn("hybrid_rank", F.row_number().over(w_f))
        .filter(F.col("hybrid_rank") <= HYBRID_TOP)
        .select("query_id", "doc_id", "rrf_q6", "hybrid_rank")
    )


# BM25 over the whitespace-token inverted index. The idf is the
# RATIONAL (pre-log) Robertson–Spärck Jones weight
# ``(N - df + 0.5) / (df + 0.5)`` — log-free because ln() is not
# correctly-rounded-identical across engines (the repo's float
# contract allows sqrt and ±*/ only); per term it is a monotone
# transform of textbook BM25 idf, stated in the docstring as the
# scoring-function definition. k1 = 6/5 and b = 3/4 are kept as exact
# rationals and the whole per-term score is one integer expression.
BM25_TERMS = ("spark", "vector", "window", "merge")
BM25_TOP = 20


def _bm25_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_TERMS)


def _bm25_score_frame(
    docs: DataFrame, terms, toks: DataFrame = None,
    corpus: DataFrame = None,
) -> DataFrame:
    """The rational-idf BM25 per-doc scorer behind
    ``retrieval_bm25_rational_topk``, parameterized by query-term set
    so the PRF expansion round can rescore with the widened query
    using the identical machinery (see that function's docstring for
    the formula and shape argument).

    ``toks``/``corpus`` (r10, guide §2.3): a caller that scores more
    than once (the PRF operator runs TWO rounds plus two feedback
    passes over the token frame) passes its own materialized
    ``(doc_id, dl, term)`` frame and corpus-stats row so the corpus is
    tokenized ONCE instead of per pass; the default path is
    plan-identical to before."""
    if toks is None:
        toks = docs.select(
            "doc_id",
            F.size(F.split(F.col("text"), " ", -1)).alias("dl"),
            F.explode(F.split(F.col("text"), " ", -1)).alias("term"),
        )
    tf = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    if corpus is None:
        corpus = docs.agg(
            F.count("*").alias("n_docs"),
            F.coalesce(
                F.sum(F.size(F.split(F.col("text"), " ", -1))), F.lit(0)
            ).alias("sum_dl"),
        )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(corpus))
        .selectExpr(
            "term",
            "(2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1)"
            " AS idf_q6",
        )
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(corpus))
        .selectExpr(
            "doc_id",
            "CAST(CAST(idf_q6 AS DECIMAL(38,0)) * 22 * tf * sum_dl"
            " div (10 * CAST(sum_dl AS DECIMAL(38,0)) * tf"
            " + 3 * sum_dl + 9 * dl * n_docs)"
            " AS BIGINT) AS term_score",
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("term_score").alias("score_q6"),
        F.count("*").cast("long").alias("n_terms"),
    )


@register(
    "retrieval_bm25_rational_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ), corpus AS (
      SELECT COUNT(*) AS n_docs,
             COALESCE(SUM(len(string_split(text, ' '))), 0) AS sum_dl
      FROM documents
    ), tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM tok WHERE term IN ({_bm25_terms_sql()})
      GROUP BY doc_id, dl, term
    ), idf AS (
      SELECT term,
             (2 * c.n_docs - 2 * COUNT(*) + 1) * 1000000
               // (2 * COUNT(*) + 1) AS idf_q6
      FROM tf, corpus c GROUP BY term, c.n_docs
    ), scored AS (
      SELECT t.doc_id,
             CAST(CAST(i.idf_q6 AS HUGEINT) * 22 * t.tf * c.sum_dl
                  // (10 * CAST(c.sum_dl AS HUGEINT) * t.tf
                      + 3 * c.sum_dl + 9 * t.dl * c.n_docs)
                  AS BIGINT) AS term_score
      FROM tf t JOIN idf i ON t.term = i.term, corpus c
    ), agg AS (
      SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS score_q6,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM scored GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, score_q6, n_terms,
             ROW_NUMBER() OVER (ORDER BY score_q6 DESC, doc_id) AS rnk
      FROM agg
    )
    SELECT doc_id, score_q6, n_terms, rnk
    FROM ranked WHERE rnk <= {BM25_TOP}
    """,
)
def retrieval_bm25_rational_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BM25 top-k for a fixed query-term set, with the RATIONAL
    (pre-log) RSJ idf so every score is an exact integer on both
    engines: per (doc, term)

    ``score_q6 = idf_q6 · 22·tf·S  div  (10·S·tf + 3·S + 9·dl·N)``

    where ``idf_q6 = (2N − 2df + 1)·1e6 div (2df + 1)`` (the
    ×1e6-scaled ``(N−df+½)/(df+½)``), ``dl`` is the doc's token
    count, ``S = Σ dl``, and the tf factor is textbook
    ``tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))`` with k1 = 6/5, b = 3/4
    cleared of denominators (×10·S). Numerator AND denominator are
    widened (DECIMAL(38,0)/HUGEINT): 10·S·tf passes int64 once
    S·tf ~ 1e18 — reachable at corpus scale. Log-free by design:
    ln() is not
    bit-identical across engines, and per term the rational idf is a
    monotone transform of the log idf.

    Plan (100 TB shape): ONE corpus pass explodes tokens and filters
    to the query terms BEFORE the (doc, term) shuffle, so the
    shuffled volume is matching tokens only, not the corpus; ``dl``
    rides the explode as a functionally-dependent key (no join back
    to the corpus). Corpus stats (N, S) are a one-row broadcast; the
    per-term df/idf table is |terms| rows broadcast into the scoring
    projection. Final top-k is TakeOrderedAndProject (per-partition
    heaps), never a global sort; the rank window sees ≤ k rows.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    agg = _bm25_score_frame(docs, BM25_TERMS)
    top = agg.orderBy(
        F.desc("score_q6"), F.asc("doc_id")
    ).limit(BM25_TOP)
    # rank window over ≤ k pre-limited rows; non-foldable constant
    # partition key (see text_vocab_topk) keeps the single partition
    # intended rather than warned-about
    w = W.partitionBy(F.pmod(F.col("score_q6"), F.lit(1))).orderBy(
        F.desc("score_q6"), F.asc("doc_id")
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score_q6", "n_terms", "rnk"
    )


PHRASE_QUERY = "table value"
PHRASE_TOP_K = 20


def _phrase_count_sql(expr: str, phrase: str) -> str:
    """Non-overlapping space-padded occurrence count — the same
    replace-arithmetic kernel as textstats._occurrences_sql, restated
    here with the identical expression on BOTH engines (back-to-back
    repeats share a boundary space and count once per consumed pad —
    a consistent convention, not a defect, as long as the two engines
    run the same expression)."""
    needle = f" {phrase} "
    padded = f"(' ' || {expr} || ' ')"
    return (
        f"CAST((length({padded}) - length(replace({padded},"
        f" '{needle}', ''))) / {len(needle)} AS BIGINT)"
    )


@register(
    "retrieval_phrase_match_topk",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {_phrase_count_sql('text', PHRASE_QUERY)} AS n_matches
      FROM documents
    )
    SELECT doc_id, n_matches,
           CAST(ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id)
                AS BIGINT) AS rnk
    FROM scored WHERE n_matches > 0
    QUALIFY ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id)
            <= {PHRASE_TOP_K}
    """,
)
def retrieval_phrase_match_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT-PHRASE retrieval — the match mode BM25's bag-of-terms
    scoring cannot express (order matters: '{PHRASE_QUERY}' ≠
    'value table'): documents containing the query phrase as a
    contiguous token sequence, ranked by occurrence count (ties by
    doc_id), top {PHRASE_TOP_K}. Together with
    ``retrieval_bm25_rational_topk`` (ranked bag-of-terms) and
    ``retrieval_hybrid_rrf_topk`` (fused lexical+vector) this
    completes the standard retrieval triad.

    Plan: the occurrence count is ONE narrow string expression
    (length/replace arithmetic — JVM codegen, no regex, no explode,
    no shuffle); the match filter prunes before the global top-k,
    which compiles to TakeOrderedAndProject (per-partition heaps, no
    full sort). At 100 TB this is the scan-speed path; a phrase
    INDEX (positional postings) is the next step only when the same
    corpus serves many phrase queries.
    """
    docs = table_wide(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.expr(_phrase_count_sql("text", PHRASE_QUERY)).alias("n_matches"),
    ).filter(F.col("n_matches") > 0)
    top = scored.orderBy(F.desc("n_matches"), F.asc("doc_id")).limit(
        PHRASE_TOP_K
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("n_matches"), F.asc("doc_id"))
    # rank window runs on the ≤ top-k rows, never the corpus
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )


@register(
    "retrieval_phrase_index_topk",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), scored AS (
      SELECT doc_id,
             CAST(len(list_filter(
               range(1, greatest(len(w), 1)),
               i -> w[i] = '{PHRASE_QUERY.split()[0]}'
                    AND w[i+1] = '{PHRASE_QUERY.split()[1]}'
             )) AS BIGINT) AS n_matches
      FROM base
    )
    SELECT doc_id, n_matches,
           CAST(ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id)
                AS BIGINT) AS rnk
    FROM scored WHERE n_matches > 0
    QUALIFY ROW_NUMBER() OVER (ORDER BY n_matches DESC, doc_id)
            <= {PHRASE_TOP_K}
    """,
)
def retrieval_phrase_index_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phrase retrieval through a POSITIONAL POSTINGS INDEX — the
    many-query path the scan-speed twin's docstring names as the next
    step (``retrieval_phrase_match_topk``): tokenize once into
    ``(term, doc_id, pos)`` postings, keep ONLY the query's terms
    (the filter reaches the tokenize stage, so at 100 TB the shuffled
    volume is the postings of |phrase| terms, not the corpus), then
    resolve the phrase as an equi-join of consecutive-term postings
    on ``(doc_id, pos+1)`` and count aligned starts per document.

    Semantics note (documented, test-pinned): the index counts
    TOKEN-ALIGNED occurrences, so back-to-back repeats
    ('t v t v' → 2) each count, whereas the scan twin's padded
    replace-arithmetic collapses adjacent repeats sharing a boundary
    space ('t v t v' → 1). Both are consistent conventions; each row
    carries its own oracle restating its own rule.

    Plan: one tokenize+filter projection per phrase term position
    (shared scan), ONE shuffled equi-join on (doc_id, pos) between
    term-0 and term-1 postings — both sides already pruned to single
    terms — a doc-keyed count, and TakeOrderedAndProject for the
    global top-{PHRASE_TOP_K}. In a served deployment the postings
    frame is a bucketed table written once (bucketBy(doc_id)), making
    the phrase join co-partitioned and shuffle-free per query; the
    in-query build here prices exactly that reuse decision.
    """
    terms = PHRASE_QUERY.split()
    docs = table_wide(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ", -1)).alias(
            "pos", "term"
        ),
    ).filter(F.col("term").isin(terms))
    t0 = postings.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    t1 = postings.filter(F.col("term") == terms[1]).select(
        "doc_id", (F.col("pos") - 1).alias("p0")
    )
    scored = (
        t0.join(t1, ["doc_id", "p0"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_matches"))
    )
    top = scored.orderBy(F.desc("n_matches"), F.asc("doc_id")).limit(
        PHRASE_TOP_K
    )
    from pyspark.sql import Window as W

    w = W.orderBy(F.desc("n_matches"), F.asc("doc_id"))
    # rank window runs on the ≤ top-k rows, never the corpus
    return top.withColumn(
        "rnk", F.row_number().over(w).cast("long")
    )


PRF_FB_DOCS = 10  # feedback depth: top round-1 docs mined for terms
PRF_EXPAND = 3  # expansion terms added to the query


def _prf_oracle() -> str:
    terms = _bm25_terms_sql()
    values = ", ".join(f"('{t}')" for t in BM25_TERMS)
    score_expr = """
             CAST(CAST(i.idf_q6 AS HUGEINT) * 22 * t.tf * c.sum_dl
                  // (10 * CAST(c.sum_dl AS HUGEINT) * t.tf
                      + 3 * c.sum_dl + 9 * t.dl * c.n_docs)
                  AS BIGINT)"""
    return f"""
    WITH tok AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ), corpus AS (
      SELECT COUNT(*) AS n_docs,
             COALESCE(SUM(len(string_split(text, ' '))), 0) AS sum_dl
      FROM documents
    ), tf1 AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM tok WHERE term IN ({terms})
      GROUP BY doc_id, dl, term
    ), idf1 AS (
      SELECT term,
             (2 * c.n_docs - 2 * COUNT(*) + 1) * 1000000
               // (2 * COUNT(*) + 1) AS idf_q6
      FROM tf1, corpus c GROUP BY term, c.n_docs
    ), agg1 AS (
      SELECT t.doc_id, SUM({score_expr}) AS score_q6
      FROM tf1 t JOIN idf1 i ON t.term = i.term, corpus c
      GROUP BY t.doc_id
    ), fb AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY score_q6 DESC, doc_id) AS rn
        FROM agg1
      ) WHERE rn <= {PRF_FB_DOCS}
    ), cand AS (
      SELECT t.term, COUNT(*) AS fb_tf
      FROM tok t JOIN fb ON fb.doc_id = t.doc_id
      WHERE t.term NOT IN ({terms})
      GROUP BY t.term
    ), canddf AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df
      FROM tok WHERE term IN (SELECT term FROM cand)
      GROUP BY term
    ), exp3 AS (
      SELECT term FROM (
        SELECT c.term,
               ROW_NUMBER() OVER (
                 ORDER BY c.fb_tf * ((2 * x.n_docs - 2 * d.df + 1)
                                     * 1000000 // (2 * d.df + 1)) DESC,
                          c.term ASC) AS rn
        FROM cand c JOIN canddf d ON d.term = c.term, corpus x
      ) WHERE rn <= {PRF_EXPAND}
    ), q2 AS (
      SELECT term FROM (VALUES {values}) v(term)
      UNION ALL SELECT term FROM exp3
    ), tf2 AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf
      FROM tok WHERE term IN (SELECT term FROM q2)
      GROUP BY doc_id, dl, term
    ), idf2 AS (
      SELECT term,
             (2 * c.n_docs - 2 * COUNT(*) + 1) * 1000000
               // (2 * COUNT(*) + 1) AS idf_q6
      FROM tf2, corpus c GROUP BY term, c.n_docs
    ), agg2 AS (
      SELECT t.doc_id, SUM({score_expr}) AS score_q6,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM tf2 t JOIN idf2 i ON t.term = i.term, corpus c
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(score_q6 AS BIGINT) AS score_q6, n_terms, rnk
    FROM (
      SELECT doc_id, score_q6, n_terms,
             ROW_NUMBER() OVER (ORDER BY score_q6 DESC, doc_id) AS rnk
      FROM agg2
    ) WHERE rnk <= {BM25_TOP}
    """


@register("retrieval_prf_expansion_topk", oracle=_prf_oracle())
def retrieval_prf_expansion_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (Rocchio/RM1 family)
    over the rational BM25 scorer: round 1 ranks the corpus for the
    base query {BM25_TERMS}; the top {PRF_FB_DOCS} feedback documents
    are mined for expansion candidates, each scored
    ``feedback_tf · rational_idf`` (exact integers — same log-free
    idf as the base ranker); the top {PRF_EXPAND} candidates (score
    DESC, term ASC — deterministic) widen the query; round 2 rescores
    and returns the final top {BM25_TOP}. Both rounds run the SAME
    scorer (:func:`_bm25_score_frame` — refactored out of
    ``retrieval_bm25_rational_topk`` with an identical plan), so the
    expansion's effect is isolated to the term set.

    100 TB shape: each round is the audited BM25 shape (terms pruned
    BEFORE the (doc, term) shuffle; stats broadcast; top-k =
    TakeOrderedAndProject). The feedback mining pass prunes to the
    BROADCAST {PRF_FB_DOCS}-row doc set before its term census, and
    the candidate-df pass prunes on the broadcast candidate set.
    Four narrow corpus passes total — a production system amortizes
    them against the positional postings index
    (``retrieval_phrase_index_topk``); the {PRF_EXPAND} chosen terms
    are a bounded driver collect (the train-sample exemption class).
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    # ONE tokenize pass for the whole operator (r10, r9 verdict #10 /
    # guide §2.3): round-1 scoring, both feedback-mining passes and
    # the round-2 rescore all consumed their own interpreted
    # explode-over-text lineage — four corpus tokenizations per
    # execution. The (doc_id, dl, term) frame is now materialized once
    # (lazy checkpoint, forced by the round-1 scoring job) and every
    # pass reads the stored rows. Corpus stats stay the scorer's own
    # docs-level aggregate (identical expression — a scan, not a
    # tokenize).
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ", -1)).alias("dl"),
        F.explode(F.split(F.col("text"), " ", -1)).alias("term"),
    ).localCheckpoint(eager=False)
    corpus = docs.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(
            F.sum(F.size(F.split(F.col("text"), " ", -1))), F.lit(0)
        ).alias("sum_dl"),
    ).localCheckpoint(eager=False)
    fb = (
        _bm25_score_frame(docs, BM25_TERMS, toks=toks, corpus=corpus)
        .orderBy(F.desc("score_q6"), F.asc("doc_id"))
        .limit(PRF_FB_DOCS)
        .select("doc_id")
    )
    cand = (
        toks.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("term").isin(*BM25_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("fb_tf"))
    )
    canddf = (
        toks.join(F.broadcast(cand.select("term")), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    expansion = (
        cand.join(canddf, "term")
        .crossJoin(F.broadcast(corpus.select("n_docs")))
        .selectExpr(
            "term",
            "fb_tf * ((2 * n_docs - 2 * df + 1) * 1000000"
            " div (2 * df + 1)) AS es",
        )
        .orderBy(F.desc("es"), F.asc("term"))
        .limit(PRF_EXPAND)
    )
    # bounded driver collect: exactly PRF_EXPAND rows
    exp_terms = [r["term"] for r in expansion.collect()]
    q2 = tuple(BM25_TERMS) + tuple(exp_terms)
    top = (
        _bm25_score_frame(docs, q2, toks=toks, corpus=corpus)
        .orderBy(F.desc("score_q6"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )
    w = W.partitionBy(F.pmod(F.col("score_q6"), F.lit(1))).orderBy(
        F.desc("score_q6"), F.asc("doc_id")
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "score_q6", "n_terms", "rnk"
    )


@register(
    "retrieval_postings_gap_census",
    oracle="""
    WITH postings AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS term, doc_id
      FROM documents
    ), gaps AS (
      SELECT term, doc_id,
             COALESCE(doc_id - LAG(doc_id) OVER (PARTITION BY term
                                                 ORDER BY doc_id),
                      doc_id + 1) AS gap
      FROM postings
    ), per_term AS (
      SELECT term, COUNT(*) AS df,
             SUM((length(bin(gap)) + 6) // 7) AS delta_bytes,
             SUM((length(bin(doc_id + 1)) + 6) // 7) AS abs_bytes
      FROM gaps GROUP BY term
    )
    SELECT CAST(length(bin(df)) AS BIGINT) AS df_bucket,
           COUNT(*) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(delta_bytes) AS BIGINT) AS delta_bytes,
           CAST(SUM(abs_bytes) AS BIGINT) AS abs_bytes,
           CAST((SUM(abs_bytes) - SUM(delta_bytes)) * 1000000
                // NULLIF(SUM(abs_bytes), 0) AS BIGINT) AS savings_q6
    FROM per_term GROUP BY 1
    """,
)
def retrieval_postings_gap_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Postings-list compression advisor — prices the delta-gap +
    varint encoding every real inverted index (Lucene, Tantivy) uses
    against absolute ids, BEFORE building the index
    (``retrieval_phrase_index_topk`` is the consumer): per term, the
    sorted posting list's gaps cost ``⌈bitlen(gap)/7⌉`` varint bytes
    each; terms census by df magnitude (the ``bitlen(df)`` bucket),
    reporting postings mass, delta vs absolute bytes, and the
    integer-millionth savings share — high-df buckets show the big
    wins (dense lists → tiny gaps), which is what decides dictionary
    split points. All integer arithmetic: bit lengths via
    ``length(bin(x))`` (identical on both engines), never a log.

    100 TB shape: ONE tokenize+distinct pass, ONE term-keyed shuffle
    (the lag window partitions per term — no global sort; skewed
    stop-terms are the known hot keys and exactly the ones the df
    buckets isolate), then a ≤64-row bucket aggregate.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    postings = docs.select(
        F.explode(F.split(F.col("text"), " ", -1)).alias("term"),
        "doc_id",
    ).distinct()
    w = W.partitionBy("term").orderBy("doc_id")
    gaps = postings.select(
        "term",
        "doc_id",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") + 1,
        ).alias("gap"),
    )
    per_term = gaps.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum(
            F.expr("(length(bin(gap)) + 6) div 7")
        ).alias("delta_bytes"),
        F.sum(
            F.expr("(length(bin(doc_id + 1)) + 6) div 7")
        ).alias("abs_bytes"),
    )
    return per_term.groupBy(
        F.expr("CAST(length(bin(df)) AS BIGINT)").alias("df_bucket")
    ).agg(
        F.count("*").alias("n_terms"),
        F.sum("df").cast("long").alias("n_postings"),
        F.sum("delta_bytes").cast("long").alias("delta_bytes"),
        F.sum("abs_bytes").cast("long").alias("abs_bytes"),
        F.expr(
            "CAST((sum(abs_bytes) - sum(delta_bytes)) * 1000000"
            " div nullif(sum(abs_bytes), 0) AS BIGINT)"
        ).alias("savings_q6"),
    )


QL_MU = 2000  # Dirichlet smoothing mass (Zhai-Lafferty's default)
QL_TOP = 20


def _ql_terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "retrieval_query_likelihood_topk",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl
      FROM documents
    ), corpus AS (
      SELECT CAST(COALESCE(SUM(dl), 0) AS BIGINT) AS c_len FROM docs
    ), tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    ), cf AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
      FROM tok WHERE term IN ({_ql_terms_sql()}) GROUP BY term
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok WHERE term IN ({_ql_terms_sql()}) GROUP BY doc_id, term
    ), factors AS (
      SELECT d.doc_id, q.term,
             CAST((CAST(COALESCE(t.tf, 0) AS HUGEINT) * c.c_len
                   + {QL_MU} * q.cf) * 1000000
                  // (CAST(c.c_len AS HUGEINT) * (d.dl + {QL_MU}))
                  AS HUGEINT) AS f_q6
      FROM docs d
      CROSS JOIN cf q
      CROSS JOIN corpus c
      LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.term = q.term
    ), scored AS (
      SELECT doc_id,
             CAST(MAX(CASE WHEN term = 'spark' THEN f_q6 END)
                  * MAX(CASE WHEN term = 'vector' THEN f_q6 END)
                  * MAX(CASE WHEN term = 'window' THEN f_q6 END)
                  * MAX(CASE WHEN term = 'merge' THEN f_q6 END)
                  // 1000000000000 AS BIGINT) AS score_q12
      FROM factors GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, score_q12,
             ROW_NUMBER() OVER (ORDER BY score_q12 DESC, doc_id)
               AS rnk
      FROM scored
    )
    SELECT doc_id, score_q12, rnk FROM ranked WHERE rnk <= {QL_TOP}
    """,
)
def retrieval_query_likelihood_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing
    (Zhai-Lafferty, μ={QL_MU}) — the language-modeling scoring family
    beside BM25/TF-IDF/RRF/PRF: score(q, d) =
    Π_t (tf(t,d) + μ·P(t|C)) / (|d| + μ), over the same fixed query
    set as the BM25 row.

    LOG-FREE like the BM25 row (the repo's float contract allows
    sqrt and ±*/ only — no ln): each term factor is the exact q6
    rational ((tf·C + μ·cf)·10⁶) div (C·(dl+μ)) with C = corpus
    length, and the four factors multiply as one exact
    HUGEINT/DECIMAL(38,0) product (each < 10⁶, so the product
    < 10²⁴ ≪ 10³⁸) rescaled once to q12. The product over the FIXED
    term set is a pivot (MAX CASE per term), never a float PRODUCT
    aggregate whose accumulation could round.

    Scale: the tf build is the inverted-index aggregate restricted to
    the query terms (pushdown-friendly); factors are docs × |q| rows
    with the cf/corpus scalars broadcast; ranking cuts the scored
    frame with a full tie-break."""
    from pyspark.sql import Window as W

    docs_t = table_wide(spark, sf_dir, "documents")
    docs = docs_t.select(
        "doc_id", F.size(F.split("text", " ", -1)).alias("dl")
    )
    corpus = docs.agg(
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("c_len")
    )
    tok = docs_t.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("term")
    ).where(F.col("term").isin(*BM25_TERMS))
    cf = tok.groupBy("term").agg(F.count("*").alias("cf"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    factors = (
        docs.crossJoin(F.broadcast(cf))
        .crossJoin(F.broadcast(corpus))
        .join(tf, ["doc_id", "term"], "left")
        .select(
            "doc_id",
            "term",
            F.expr(
                f"CAST((CAST(COALESCE(tf, 0) AS DECIMAL(38,0)) * c_len"
                f" + {QL_MU} * cf) * 1000000"
                f" div (CAST(c_len AS DECIMAL(38,0)) * (dl + {QL_MU}))"
                " AS DECIMAL(38,0))"
            ).alias("f_q6"),
        )
    )
    pivot = factors.groupBy("doc_id").agg(
        *[
            F.max(
                F.when(F.col("term") == t, F.col("f_q6"))
            ).alias(f"f{i}")
            for i, t in enumerate(BM25_TERMS)
        ]
    )
    scored = pivot.select(
        "doc_id",
        F.expr(
            "CAST(f0 * f1 * f2 * f3 div 1000000000000 AS BIGINT)"
        ).alias("score_q12"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                W.orderBy(F.desc("score_q12"), F.asc("doc_id"))
            ),
        )
        .where(F.col("rnk") <= QL_TOP)
        .select("doc_id", "score_q12", "rnk")
    )
