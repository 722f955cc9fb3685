"""Text family (``operators/textstats.py``): hand-corpus pins, the
integer-division contract on negative quotients, and the lang-ID
census tie-outs. Expected values are computed by hand in the
docstrings.
"""

from __future__ import annotations

import datetime

import pytest

from almost_any_file_to_pandas_spark import plans
from almost_any_file_to_pandas_spark.plans import QUERIES

plans.load_all()

SF_DIR = "/root/testdata/sf0.001"


def _queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


_EN_TEXT = "the of and to in is was he for it " * 5
_DE_TEXT = "der die und in den von zu das mit sich " * 5
_BANANAS = " ".join(["banana"] * 200)


def _kappa_dir(spark, tmp_path):
    """N=4, agree=2, rows (de 3, en 1) × cols (en 1, de 3): pe_num =
    3·3 + 1·1 = 10, κ·1e6 = (4·2 − 10)·1e6 / (16 − 10) = −333333.3."""
    rows = [("de", _EN_TEXT), ("en", _DE_TEXT)] + [("de", _DE_TEXT)] * 2
    spark.createDataFrame(
        [(i, lang, t, "s") for i, (lang, t) in enumerate(rows)],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))


def _flesch_dir(spark, tmp_path):
    """Two one-sentence docs of 200 and 201 words with 600 syllables:
    Flesch −249965000 and −249717313, mean −249841156.5."""
    spark.createDataFrame(
        [(0, "en", _BANANAS, "s"), (1, "en", _BANANAS + " x", "s")],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))


def _permutation_dir(spark, tmp_path):
    """Users 1 and 3 form cohort 1 with −7 micro-units over 2 users,
    a mean of −3.5; user 2 alone is cohort 0 at 0."""
    base = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [
            (u, base + datetime.timedelta(minutes=u), u, "view", v, None)
            for u, v in ((1, -0.000007), (2, 0.0), (3, 0.0))
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(str(tmp_path / "events.parquet"))


@pytest.mark.parametrize(
    "name, write",
    [
        ("text_langid_agreement_kappa", _kappa_dir),
        ("text_readability_flesch_census", _flesch_dir),
        ("events_permutation_test", _permutation_dir),
    ],
    ids=["kappa", "flesch", "permutation"],
)
def test_negative_integer_division_matches_oracle(
    spark, gate_compare, tmp_path, name, write
):
    """A negative quotient with a remainder: Spark ``div`` and DuckDB
    ``//`` both truncate toward zero, so a row that floors on one
    engine only diverges here (κ −333334 vs −333333, Flesch mean
    −249841157 vs −249841156, observed diff −4 vs −3)."""
    write(spark, tmp_path)
    gate_compare(str(tmp_path), name)


def test_term_lift_hand_corpus(spark, tmp_path):
    """3 docs: 'a b', 'a b', 'a c'. df(a)=3, df(b)=2, df(c)=1, N=3.
    lift(a,b) = 2*3e6/(3*2) = 1e6; lift(a,c) = 1*3e6/(3*1) = 1e6;
    (b,c) never co-occur -> absent."""
    spark.createDataFrame(
        [(0, "a b", "s"), (1, "a b", "s"), (2, "a c", "s")],
        "doc_id long, text string, source string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    qs = _queries()
    rows = {
        (r.term_a, r.term_b): r
        for r in qs["text_term_lift_topk"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {("a", "b"), ("a", "c")}
    assert rows[("a", "b")].n_ab == 2
    assert rows[("a", "b")].lift_q6 == 1_000_000
    assert rows[("a", "c")].lift_q6 == 1_000_000


def test_langid_eval_census_consistency(spark):
    """The eval census must tie out against the per-doc lang-id rows:
    supports sum to the corpus, F1 = 2c/(L+P) exactly, and the
    synthetic corpus's labeled langs all appear."""
    qs = _queries()
    rows = qs["text_langid_eval_census"](spark, SF_DIR).collect()
    pairs = qs["text_lang_id"](spark, SF_DIR).collect()
    assert sum(r.n_labeled for r in rows) == len(pairs)
    assert sum(r.n_correct for r in rows) == sum(
        1 for p in pairs if p.predicted_lang == p.labeled_lang
    )
    for r in rows:
        assert 0 <= r.recall_q6 <= 1_000_000
        denom = r.n_labeled + r.n_predicted
        assert r.f1_q6 == 2 * r.n_correct * 1_000_000 // denom


def test_heaps_growth_monotone_and_totals(spark):
    """The growth curve must be monotone in docs/tokens/vocab, end at
    the full corpus totals, and carry exactly HEAPS_CHECKPOINTS
    rows."""
    from almost_any_file_to_pandas_spark.operators.textstats import (
        HEAPS_CHECKPOINTS,
    )
    from almost_any_file_to_pandas_spark.plans import table

    qs = _queries()
    rows = sorted(
        qs["text_heaps_vocab_growth"](spark, SF_DIR).collect(),
        key=lambda r: r.checkpoint,
    )
    assert len(rows) == HEAPS_CHECKPOINTS
    for a, b in zip(rows, rows[1:]):
        assert a.cum_docs <= b.cum_docs
        assert a.cum_tokens <= b.cum_tokens
        assert a.vocab_size <= b.vocab_size
    docs = table(spark, SF_DIR, "documents").toPandas()
    total_docs = len(docs)
    total_tokens = int(docs.text.str.split(" ").str.len().sum())
    vocab = len({t for s in docs.text for t in s.split(" ")})
    last = rows[-1]
    assert last.cum_docs == total_docs
    assert last.cum_tokens == total_tokens
    assert last.vocab_size == vocab
    assert last.ttr_q6 == vocab * 1_000_000 // total_tokens


def test_rake_hand_scores(spark, tmp_path):
    """RAKE on a hand corpus: 'training and deep learning models of
    deep learning' splits at the stopwords into three phrases with
    exactly computable degree/frequency scores."""
    text = "training and deep learning models of deep learning"
    rows = [(0, text, "en", "s", len(text)), (1, text, "en", "s", len(text))]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    qs = _queries()
    out = {
        r.phrase: r
        for r in qs["text_rake_keyphrases_topk"](
            spark, str(tmp_path)
        ).collect()
    }
    # per doc (x2 docs, global word stats double but ratios hold):
    # training: freq 2, degree 2 -> 1e6
    # deep/learning: freq 4, degree 10 -> 2.5e6 ; models: freq 2,
    # degree 6 -> 3e6
    assert out["training"].score_q6 == 1_000_000
    assert out["deep learning"].score_q6 == 5_000_000
    assert out["deep learning models"].score_q6 == 8_000_000
    assert out["deep learning models"].n_words == 3
    assert all(r.n_occ == 2 for r in out.values())


def test_kappa_hand_corpus(spark, tmp_path):
    """Cohen's kappa pinned by hand on a 2×2 confusion matrix with a
    NEGATIVE κ (worse-than-chance agreement), divided exactly."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    # annotator 2 (the marker classifier) will predict 'en' for docs
    # full of english stopwords, 'de' for german ones. Build labels
    # that mostly DISAGREE with the prediction.
    en_text = "the of and to in is was he for it " * 5
    de_text = "der die und in den von zu das mit sich " * 5
    rows = (
        [("en", en_text)] * 2 + [("de", en_text)] * 8   # pred en
        + [("de", de_text)] * 2 + [("en", de_text)] * 8  # pred de
    )
    sf = tmp_path / "kap"
    sf.mkdir()
    spark.createDataFrame(
        [(i, lang, t, "s") for i, (lang, t) in enumerate(rows)],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    r = QUERIES["text_langid_agreement_kappa"](spark, str(sf)).collect()[0]
    # confusion: rows en: (pred en 2, pred de 8); de: (pred en 8, de 2)
    # N=20, agree=4, pe_num = 10*10 + 10*10 = 200
    # kappa = (20*4 - 200) / (400 - 200) = -120/200 = -0.6
    assert (r.n_docs, r.n_agree) == (20, 4)
    assert r.po_q6 == 200_000
    assert r.pe_q6 == 500_000
    assert r.kappa_q6 == -600_000


def test_kappa_degenerate_pe_one_yields_null(spark, tmp_path):
    """A corpus where p_e = 1 (one doc, label == prediction) leaves
    kappa UNDEFINED — the guard returns NULL instead of div-by-zero
    (found by the degenerate-corpus sweep on the EMD twin)."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    sf = tmp_path / "kpe"
    sf.mkdir()
    spark.createDataFrame(
        [(1, "en", "the of and to in is was he for it", "s")],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    r = QUERIES["text_langid_agreement_kappa"](spark, str(sf)).collect()[0]
    assert (r.n_docs, r.n_agree, r.po_q6) == (1, 1, 1_000_000)
    assert r.kappa_q6 is None


def test_flesch_hand_corpus(spark, tmp_path):
    """Flesch census pinned by hand: known word/sentence/syllable
    counts give the exact q6 score through the integer ratio path."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    # "go now. stop it." → words=4 (split on ' ' → ['go','now.','stop',
    # 'it.']), sentences=2, vowel groups: o, o, o, i = 4
    text = "go now. stop it."
    sf = tmp_path / "fle"
    sf.mkdir()
    spark.createDataFrame(
        [(1, "en", text, "s")],
        "doc_id bigint, lang string, text string, source string",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    r = QUERIES["text_readability_flesch_census"](spark, str(sf)).collect()[0]
    expected = 206_835_000 - (1_015_000 * 4) // 2 - (84_600_000 * 4) // 4
    assert r.n_docs == 1
    assert r.min_q6 == r.max_q6 == r.mean_q6 == expected


def test_bigram_perplexity_hand_corpus(spark, tmp_path):
    """Two docs 'a b' plus 'solo': the only bigram has c_bi=2,
    c_ctx(a)=2, V=3 (solo joins the vocab) → P = 3/5, lp = ln3 − ln5
    → −510826 micro-nats; single-token docs score 0 and drop."""
    sf = tmp_path / "pplx"
    sf.mkdir()
    spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "solo")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    rows = {
        r.doc_id: r
        for r in QUERIES["text_bigram_perplexity_filter"](
            spark, str(sf)
        ).collect()
    }
    assert rows[0].n_bigrams == 1
    assert rows[0].logprob_sum_q6 == -510_826
    assert rows[0].avg_logprob_q6 == -510_826
    assert rows[0].keep is True
    assert rows[1].logprob_sum_q6 == -510_826
    assert rows[2].n_bigrams == 0
    assert rows[2].avg_logprob_q6 == 0 and rows[2].keep is False


def test_yule_k_hand_corpus(spark, tmp_path):
    """Docs 'a a b' + 'a' → freqs a:3, b:1; N=4, V=2, Σf²=10,
    Σf(f−1)=6. K·1e6 = (10−4)·1e10 // 16 = 3 750 000 000;
    D·1e9 = 6·1e9 // 12 = 500 000 000."""
    sf = tmp_path / "yule"
    sf.mkdir()
    spark.createDataFrame(
        [("a a b",), ("a",)], "text string"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    r = QUERIES["text_yule_k_census"](spark, str(sf)).collect()[0]
    assert r.n_tokens == 4 and r.n_types == 2
    assert r.sum_freq_sq == 10
    assert r.yule_k_q6 == 3_750_000_000
    assert r.simpson_d_q9 == 500_000_000


def test_yule_k_single_token_guard(spark, tmp_path):
    sf = tmp_path / "yule1"
    sf.mkdir()
    spark.createDataFrame(
        [("solo",)], "text string"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    r = QUERIES["text_yule_k_census"](spark, str(sf)).collect()[0]
    assert r.n_tokens == 1 and r.n_types == 1
    assert r.yule_k_q6 == 0 and r.simpson_d_q9 == 0


def test_zipf_slope_hand_corpus(spark, tmp_path):
    """Frequencies 12, 6, 4 = 12/r for ranks 1..3 — an exact Zipf
    curve, so slope ≈ −1 and R² ≈ 1 on the q6 lattice; both values
    recomputed independently from the same integer folds."""
    import math

    sf = tmp_path / "zipf"
    sf.mkdir()
    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4)
    spark.createDataFrame(
        [(0, text)], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    r = QUERIES["text_zipf_slope_fit"](spark, str(sf)).collect()[0]
    assert r.n_terms == 3

    def q(v):
        return math.floor(math.log(v) * 1_000_000 + 0.5)

    xs = [q(i) for i in (1, 2, 3)]
    ys = [q(f) for f in (12, 6, 4)]
    k = 3
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    syy = sum(b * b for b in ys)
    num, den, deny = k * sxy - sx * sy, k * sxx - sx * sx, k * syy - sy * sy
    slope = -((-num * 1_000_000) // den) if num < 0 else (num * 1_000_000) // den
    assert r.slope_q6 == slope
    assert -1_000_100 < r.slope_q6 < -999_900  # ≈ −1
    assert r.r2_q6 == (num * num * 1_000_000) // (den * deny)
    assert r.r2_q6 >= 999_999  # ≈ 1 on the lattice
