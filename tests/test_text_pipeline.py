"""Property + unit tests for the text pipeline's pure pieces:
sniffing (D1-D3) and the T1-T4 column expressions (SURVEY.md §2.3,
§2.4). Property-based where the function is a pure string transform —
cheap because no Spark job is needed to check the expression output
on a handful of driver-built rows."""

from __future__ import annotations

import string

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.sources import sniff
from almost_any_file_to_pandas_spark.sources.text import (
    cells_expr,
    pad_cells,
    positional_names,
    read_delimited,
    read_delimited_many,
    strip_quote_runs,
)

CELL = st.text(
    alphabet=string.ascii_letters + string.digits + "_-.", min_size=0, max_size=8
)


# ---------------------------------------------------------------------------
# Sniffer (driver-side, no Spark)
# ---------------------------------------------------------------------------


def test_sniff_semicolon_beats_inner_commas(tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a;b;c,d\n1;2;3,4\n5;6;7\n")
    assert sniff.sniff_delimiter(p) == ";"


def test_sniff_degenerate_falls_back_to_tab(tmp_path):
    p = tmp_path / "x.ini"
    p.write_text("justoneword\nanother\n")
    assert sniff.sniff_delimiter(p) == "\t"


def test_sniff_empty_file(tmp_path):
    p = tmp_path / "empty.txt"
    p.write_text("")
    assert sniff.sniff_delimiter(p) == "\t"


def test_detect_encoding_utf8(tmp_path):
    p = tmp_path / "u.txt"
    p.write_text("héllo wörld\n" * 20, encoding="utf-8")
    enc = sniff.detect_encoding(p)
    assert enc is not None
    assert enc.lower().replace("-", "").replace("_", "") == "utf8"


def test_max_columns_prefix_vs_distributed(spark, tmp_path):
    p = tmp_path / "w.txt"
    p.write_text("a\tb\na\tb\tc\td\na\n")
    assert sniff.max_columns_in_prefix(p, "\t") == 4


def test_wide_row_past_the_prefix_keeps_its_cells(spark, tmp_path):
    # 1.2 MB of 2-column lines, then one 3-column line past the 1 MiB
    # sniffing prefix: the width comes from every line, not the prefix.
    p = tmp_path / "long.tsv"
    p.write_text("a\tb\n" * 300_000 + "x\ty\tz\n")
    assert p.stat().st_size > sniff.DEFAULT_PREFIX_BYTES
    df = read_delimited(spark, p).data
    assert df.columns == ["c0", "c1", "c2"]
    assert df.filter("c0 = 'x'").collect() == [("x", "y", "z")]


def test_many_files_width_covers_every_file(spark, tmp_path):
    # The first file is 2 columns wide, the second 3: the 3rd cell of
    # the second file must survive the shared schema.
    (tmp_path / "m_1.tsv").write_text("a\tb\nc\td\n")
    (tmp_path / "m_2.tsv").write_text("p\tq\tr\n")
    df = read_delimited_many(spark, str(tmp_path / "m_*.tsv")).data
    assert df.columns == ["c0", "c1", "c2", "source_file"]
    got = sorted(tuple(r)[:3] for r in df.collect())
    assert got == [("a", "b", ""), ("c", "d", ""), ("p", "q", "r")]


# ---------------------------------------------------------------------------
# T2-T4 expressions (one Spark job per property batch via collect)
# ---------------------------------------------------------------------------


def _eval_rows(spark, expr_builder, values: list[str]):
    df = spark.createDataFrame([(v,) for v in values], "value string")
    return [r[0] for r in df.select(expr_builder(F.col("value"))).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(CELL, min_size=1, max_size=5))
def test_split_matches_reference_strip_then_split(spark, cells):
    # Reference T1 strips tab runs at both ends BEFORE splitting,
    # for every delimiter including tab itself (main.py:345).
    line = "\t".join(cells)
    [got] = _eval_rows(spark, lambda c: cells_expr(c, "\t"), [line])
    assert got == line.strip("\t").split("\t")


@settings(max_examples=20, deadline=None)
@given(st.lists(CELL, min_size=1, max_size=4), st.integers(4, 8))
def test_pad_to_width(spark, cells, width):
    line = "\t".join(cells)
    expected = line.strip("\t").split("\t")  # reference T1 semantics
    [got] = _eval_rows(
        spark, lambda c: pad_cells(cells_expr(c, "\t"), width), [line]
    )
    assert len(got) == width
    assert got[: len(expected)] == expected
    assert all(v == "" for v in got[len(expected):])


@settings(max_examples=20, deadline=None)
@given(CELL, st.integers(0, 3), st.integers(0, 3), st.sampled_from(["\"", "'"]))
def test_quote_strip_removes_runs(spark, core, nl, nr, q):
    # Python str.strip removes *runs* at both ends (SURVEY T4); the
    # regexp must match that, including mixed-quote runs.
    raw = q * nl + core + q * nr
    [got] = _eval_rows(spark, strip_quote_runs, [raw])
    assert got == raw.strip("\"'")


def test_quote_strip_mixed_runs(spark):
    vals = ["\"'abc'\"", "''", "\"\"", "a\"b", "'inner \" kept'"]
    got = _eval_rows(spark, strip_quote_runs, vals)
    assert got == [v.strip("\"'") for v in vals]


def test_positional_names():
    assert positional_names(3) == ["c0", "c1", "c2"]


# ---------------------------------------------------------------------------
# ParseResult record semantics (reference descriptor behavior)
# ---------------------------------------------------------------------------


def test_parse_result_coercion_and_status(spark):
    from almost_any_file_to_pandas_spark.result import ParseResult

    df = spark.createDataFrame([("x",)], "c0 string")
    r = ParseResult(data=df, sheet_name=None, encoding=123)
    # RuleString coerces anything to str — None becomes 'None'
    # (main.py:60-66)
    assert r.sheet_name == "None"
    assert r.encoding == "123"
    assert r.engine == "Not used"
    assert r.separator == "format defined"
    assert r.parse_info == "OK"

    empty = spark.createDataFrame([], "c0 string")
    assert ParseResult(data=empty).parse_info == "Failed"


@pytest.mark.parametrize("width", [1, 2, 7])
def test_read_delimited_schema_width(spark, tmp_path, width):
    from almost_any_file_to_pandas_spark.sources.text import read_delimited

    p = tmp_path / f"w{width}.txt"
    p.write_text("\n".join("\t".join(["v"] * width) for _ in range(3)) + "\n")
    res = read_delimited(spark, p)
    assert res.data.columns == positional_names(width)
    assert res.data.count() == 3


def test_corpus_split_content_keyed(spark):
    """Byte-identical documents always share a split (content-keyed
    hashing), buckets live in [0,100), and the three-way split is
    roughly 80/10/10 at corpus scale."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["text_corpus_split"](
        spark, "/root/testdata/sf0.01"
    )
    rows = df.collect()
    assert all(0 <= r["bucket"] < 100 for r in rows)
    frac = {
        s: sum(1 for r in rows if r["split"] == s) / len(rows)
        for s in ("train", "val", "test")
    }
    assert 0.65 < frac["train"] < 0.95
    assert 0.02 < frac["val"] < 0.2 and 0.02 < frac["test"] < 0.2
    # exact duplicates (same text) -> same bucket: join back on text
    from almost_any_file_to_pandas_spark.plans import table

    docs = table(spark, "/root/testdata/sf0.01", "documents")
    joined = docs.select("doc_id", "text").join(
        df.select("doc_id", "bucket"), "doc_id"
    )
    n_bad = (
        joined.groupBy("text")
        .agg(F.count_distinct("bucket").alias("nb"))
        .filter(F.col("nb") > 1)
        .count()
    )
    assert n_bad == 0


def test_bm25_rational_hand_scores(spark, tmp_path):
    """Three tiny docs, scores derived on paper with the exact
    integer formula (N=3, S=9):

    - df(spark)=2 → idf_q6 = 3e6 div 5 = 600000;
      doc 1 (tf=2, dl=3): 600000·396 div 288 = 825000
      doc 2 (tf=1, dl=4): 600000·198 div 225 = 528000
    - df(window)=1 → idf_q6 = 5e6 div 3 = 1666666;
      doc 3 (tf=1, dl=2): 1666666·198 div 171 = 1929823
    """
    from almost_any_file_to_pandas_spark.operators.retrieval import (
        retrieval_bm25_rational_topk,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark fast"),
            (2, "spark slow slow slow"),
            (3, "window join"),
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    out = retrieval_bm25_rational_topk(spark, str(tmp_path)).collect()
    got = [(r.doc_id, r.score_q6, r.n_terms, r.rnk) for r in out]
    assert got == [
        (3, 1929823, 1, 1),
        (1, 825000, 1, 2),
        (2, 528000, 1, 3),
    ]


def test_bm25_plan_topk_heap_not_global_sort(spark):
    """Scale pins: the final top-k is TakeOrderedAndProject
    (per-partition heaps), the idf/corpus sides arrive broadcast, and
    no sort-merge join or cartesian product appears anywhere."""
    from almost_any_file_to_pandas_spark.operators.retrieval import (
        retrieval_bm25_rational_topk,
    )

    spark.catalog.clearCache()
    p = (
        retrieval_bm25_rational_topk(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
