"""Round-8 second-session operator tests: the small-files compaction
advisor (greedy start-offset binning), the Heaps'-law vocabulary
growth curve, and the hash-randomized permutation test."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.fixture()
def compaction_docs_dir(spark, tmp_path):
    """Six documents, one per compaction bucket, with text lengths
    crafted so the greedy start-offset bins are hand-computable
    against COMPACT_TARGET_BYTES = 8000: cum starts 0 / 5000 / 10000
    / 15000 / 17000 / 26000 -> bins 0, 0, 1, 1, 2, 3."""
    lengths = [5000, 5000, 5000, 2000, 9000, 100]
    rows = [
        (i, "x" * n, "en", "s", n) for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_compaction_plan_hand_bins(spark, compaction_docs_dir):
    """Greedy start-offset binning must reproduce the hand plan,
    including both over-target bins (a bin may overflow by at most
    the one file that straddles its end)."""
    qs = _queries()
    rows = {
        r.out_file: r
        for r in qs["pipeline_file_compaction_plan"](
            spark, compaction_docs_dir
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    assert (rows[0].n_inputs, rows[0].n_bytes, rows[0].over_target) == (
        2, 10000, True,
    )
    assert (rows[1].n_inputs, rows[1].n_bytes, rows[1].over_target) == (
        2, 7000, False,
    )
    assert (rows[2].n_inputs, rows[2].n_bytes, rows[2].over_target) == (
        1, 9000, True,
    )
    assert (rows[3].n_inputs, rows[3].n_bytes, rows[3].over_target) == (
        1, 100, False,
    )
    # fill factor is exact integer q6 of bytes/target
    assert rows[1].fill_q6 == 7000 * 1_000_000 // 8000


def test_compaction_plan_testdata_invariants(spark):
    """On real testdata: bins partition the corpus (doc counts add
    up), every bin is non-empty, and per source the bin ids are a
    dense 0..k prefix (greedy binning cannot skip a bin)."""
    qs = _queries()
    rows = qs["pipeline_file_compaction_plan"](spark, SF_DIR).collect()
    assert rows
    from collections import defaultdict

    per_src = defaultdict(list)
    for r in rows:
        assert r.n_inputs >= 1 and r.n_bytes > 0
        per_src[r.source].append(r.out_file)
    for src, bins in per_src.items():
        assert sorted(bins) == list(range(len(bins))), src


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


@pytest.fixture()
def null_effect_events_dir(spark, tmp_path):
    """Every user has the identical total value, so the observed
    cohort difference is exactly 0 and EVERY permutation replicate is
    at least as extreme: p must be exactly 1.0 (q6 1e6)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 17):
        for i in range(3):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(minutes=eid),
                    u,
                    "view",
                    2.5,
                    None,
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_permutation_test_null_effect(spark, null_effect_events_dir):
    from almost_any_file_to_pandas_spark.operators.temporal import (
        PERM_TEST_B,
    )

    qs = _queries()
    (row,) = qs["events_permutation_test"](
        spark, null_effect_events_dir
    ).collect()
    assert row.n_users == 16
    assert row.observed_diff_micros == 0
    assert row.n_extreme == PERM_TEST_B
    assert row.p_value_q6 == 1_000_000


def test_permutation_test_testdata_bounds(spark):
    """On real testdata the p-value must be a valid add-one estimate
    and the replicate count fixed."""
    from almost_any_file_to_pandas_spark.operators.temporal import (
        PERM_TEST_B,
    )

    qs = _queries()
    (row,) = qs["events_permutation_test"](spark, SF_DIR).collect()
    assert row.b_perms == PERM_TEST_B
    assert 0 <= row.n_extreme <= PERM_TEST_B
    lo = 1 * 1_000_000 // (PERM_TEST_B + 1)
    assert lo <= row.p_value_q6 <= 1_000_000


@pytest.fixture()
def merging_docs_dir(spark, tmp_path):
    """A doc corpus whose (source, lang) chain edges are known, built
    so at least one DELTA edge (md5(u:v) % 5 == 0) bridges two BASE
    components — found by probing the hash, not hoped for."""
    from almost_any_file_to_pandas_spark.operators.graph import (
        CC_DELTA_MOD,
    )
    import hashlib

    def is_delta(u, v):
        h = int(hashlib.md5(f"{u}:{v}".encode()).hexdigest()[:8], 16)
        return h % CC_DELTA_MOD == 0

    # one chain of 40 docs in a single (source, lang) slice: edges
    # (i, i+1); assert the hash split produces BOTH kinds
    ids = list(range(40))
    kinds = [is_delta(u, v) for u, v in zip(ids, ids[1:])]
    assert any(kinds) and not all(kinds)
    rows = [(i, f"doc {i}", "en", "s", 5) for i in ids]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_cc_incremental_merges_to_full_graph(spark, merging_docs_dir):
    """On a 40-node path the full graph is ONE component of 40; the
    base split breaks it apart, and the incremental merge must weld
    it back exactly."""
    qs = _queries()
    rows = qs["graph_cc_incremental_batch"](
        spark, merging_docs_dir
    ).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r.component_size, r.n_components, r.n_nodes) == (40, 1, 40)


def test_cc_incremental_census_equals_from_scratch(spark):
    """On testdata the incremental composition must produce the same
    size histogram as a from-scratch CC of the full edge set (the
    Spark-side restatement of the oracle identity)."""
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.operators.dedup import (
        _doc_chain_edges,
        connected_components,
    )

    qs = _queries()
    inc = {
        r.component_size: (r.n_components, r.n_nodes)
        for r in qs["graph_cc_incremental_batch"](spark, SF_DIR).collect()
    }
    full = connected_components(_doc_chain_edges(spark, SF_DIR))
    sizes = full.groupBy("lbl").count()
    scratch = {
        r["count"]: r["n"]
        for r in sizes.groupBy("count")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {k: v[0] for k, v in inc.items()} == scratch


def test_seasonal_decompose_identity_and_edges(spark):
    """Decomposition invariants on testdata: one row per month, NULL
    trend exactly at the 6 edge months each side, y = trend +
    seasonal + remainder wherever trend exists, the seasonal value is
    a pure function of month-of-year, and the re-centered seasonal
    means sum to ~0 (|sum| bounded by the 12 floor-roundings)."""
    qs = _queries()
    rows = sorted(
        qs["orders_seasonal_decompose_additive"](spark, SF_DIR).collect(),
        key=lambda r: r.ym,
    )
    assert len(rows) == len({r.ym for r in rows})
    no_trend = [r.ym for r in rows if r.trend_cents is None]
    assert no_trend == [r.ym for r in rows[:6]] + [
        r.ym for r in rows[-6:]
    ]
    by_moy = {}
    for r in rows:
        by_moy.setdefault(r.ym % 100, set()).add(r.seasonal_cents)
        if r.trend_cents is not None:
            assert (
                r.y_cents
                == r.trend_cents + r.seasonal_cents + r.remainder_cents
            )
        else:
            assert r.remainder_cents is None
    assert all(len(v) == 1 for v in by_moy.values())
    assert abs(sum(next(iter(v)) for v in by_moy.values())) <= 12


def test_wav_ms_adpcm_roundtrip_floor_shift_and_malformed():
    """MS-ADPCM WAV: two-block streams decode to the exact adaptive-
    delta recurrence for both channel counts and all three block
    sizes (independent replay below); the C `>> 8` FLOOR shift is
    pinned on a negative predictor (floor != truncate there); ragged
    geometry, an out-of-range predictor index, and the remaining
    MP3-in-WAV gate raise correctly."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _MS_ADPCM_COEFS,
        _ms_adpcm_step,
        decode_wav,
        decode_wav_ms_adpcm,
        synth_wav_ms_adpcm,
    )

    # floor vs truncate: samp1=-1, c1=256 -> product -256 >> 8 = -1
    # exactly; samp1=-1 with c1=255 -> -255 >> 8 = -1 under FLOOR but
    # 0 under truncation — the class the oracle's CASE restates
    assert (-255) >> 8 == -1
    new, d = _ms_adpcm_step(-1, 0, 16, 255, 0, 0)
    assert new == -1 and d == 16

    def ref(doc, ch, spb, n_blocks=2):
        chans = [[] for _ in range(ch)]
        for b in range(n_blocks):
            for c in range(ch):
                c1, c2 = _MS_ADPCM_COEFS[(doc + b + c) % 7]
                delta = 16 + (7 * doc + 11 * b + 5 * c) % 1000
                s1 = ((doc + 3 * b + 2 * c) % 41 - 20) * 50
                s2 = ((doc + 5 * b + 3 * c) % 37 - 18) * 40
                chans[c].append(s2)
                chans[c].append(s1)
                for k in range(spb - 2):
                    n = (doc + 13 * b + 3 * c + 5 * k) % 16
                    new, delta = _ms_adpcm_step(s1, s2, delta, c1, c2, n)
                    s2, s1 = s1, new
                    chans[c].append(new)
        return chans

    for doc in (0, 1, 2, 3, 5, 8, 13):
        ch = 1 + (doc % 2)
        spb = 2 + 8 * ((doc % 3) + 1)
        blob = synth_wav_ms_adpcm(doc, ch, spb)
        rate, dch, chans = decode_wav_ms_adpcm(blob)
        assert (rate, dch) == (8000, ch)
        assert chans == ref(doc, ch, spb)
        r, c, nf, ssq = decode_wav(blob)
        assert (r, c, nf) == (8000, ch, 2 * spb)
        assert ssq == sum(v * v for cc in chans for v in cc)

    whole = synth_wav_ms_adpcm(3, 1, 10)
    with _pytest.raises(ValueError):
        decode_wav_ms_adpcm(whole[:-3])
    off = whole.find(b"fmt ") + 8
    bad = bytearray(whole)
    struct.pack_into("<H", bad, off + 12, 99)  # block_align
    with _pytest.raises(ValueError, match="block align"):
        decode_wav_ms_adpcm(bytes(bad))
    # predictor index past the coefficient table
    data_off = whole.find(b"data") + 8
    bad = bytearray(whole)
    bad[data_off] = 9
    with _pytest.raises(ValueError, match="predictor index"):
        decode_wav_ms_adpcm(bytes(bad))


@pytest.fixture()
def drifting_props_events_dir(spark, tmp_path):
    """Events whose props JSON drifts across every JSON type for one
    key while a second key stays stable — the schema-drift alarm
    case, covering all five type arms."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    props = [
        '{"k": 7, "tag": "a"}',
        '{"k": -3, "tag": "b"}',
        '{"k": 1.25, "tag": "c"}',
        '{"k": "seven", "tag": "d"}',
        '{"k": true, "tag": "e"}',
        '{"k": null, "tag": "f"}',
        '{"k": 2e3, "tag": "g"}',
    ]
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, "view", 1.0, p)
        for i, p in enumerate(props)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_props_schema_census_types_and_drift(
    spark, drifting_props_events_dir
):
    qs = _queries()
    rows = {
        r.key: r
        for r in qs["events_props_schema_census"](
            spark, drifting_props_events_dir
        ).collect()
    }
    assert set(rows) == {"k", "tag"}
    k = rows["k"]
    assert (k.n, k.n_integer, k.n_number, k.n_string) == (7, 2, 2, 1)
    assert (k.n_boolean, k.n_null, k.n_types) == (1, 1, 5)
    assert (k.int_min, k.int_max, k.int_sum) == (-3, 7, 4)
    t = rows["tag"]
    assert (t.n, t.n_string, t.n_types) == (7, 7, 1)
    assert t.int_min is None and t.int_sum is None


def test_props_schema_census_testdata_shape(spark):
    """Testdata props carry one integer key 'k' — the census must say
    exactly that, with exact integer stats."""
    qs = _queries()
    rows = qs["events_props_schema_census"](spark, SF_DIR).collect()
    assert len(rows) == 1
    (r,) = rows
    assert r.key == "k" and r.n_types == 1 and r.n == r.n_integer
    assert r.int_min is not None and r.int_min <= r.int_max


def test_avro_source_roundtrip_and_parse_arm(spark, tmp_path):
    """Avro OCF source: the stdlib container decoder round-trips both
    codecs and multi-block files through the DISTRIBUTED scan; the
    parse facade dispatches `.avro` as a typed passthrough; negative
    zigzag, union nulls, sync mismatch, unknown codec, and the
    non-record gate behave per spec."""
    import pytest as _pytest

    from almost_any_file_to_pandas_spark import parse
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_frame,
        read_avro_header,
        synth_avro,
        write_varint,
        read_varint,
    )

    # zigzag: spec examples 0->0x00, -1->0x01, 1->0x02, -64->0x7f
    assert write_varint(0) == b"\x00"
    assert write_varint(-1) == b"\x01"
    assert write_varint(1) == b"\x02"
    assert write_varint(-64) == b"\x7f"
    assert read_varint(b"\x80\x01", 0) == (64, 2)

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    rows = [
        (
            i - 500,
            f"name{i}",
            i * 0.25,
            i % 2 == 0,
            None if i % 3 == 0 else f"note{i}",
        )
        for i in range(100)
    ]
    for codec in ("null", "deflate"):
        path = tmp_path / f"t_{codec}.avro"
        path.write_bytes(
            synth_avro(schema, rows, codec=codec, rows_per_block=17)
        )
        df = read_avro_frame(spark, path)
        got = sorted(
            (r.id, r.name, r.score, r.flag, r.note)
            for r in df.collect()
        )
        assert got == sorted(rows), codec
        assert dict(df.dtypes)["id"] == "bigint"
        assert dict(df.dtypes)["note"] == "string"

    # parse facade: typed passthrough, one result, parse_info OK
    res = parse(spark, str(tmp_path / "t_null.avro"))
    assert len(res) == 1 and res[0].parse_info == "OK"
    assert res[0].data.count() == 100

    # malformed: flipped sync marker, unknown codec, non-record gate
    blob = bytearray(synth_avro(schema, rows[:5]))
    blob[-1] ^= 0xFF
    bad = tmp_path / "bad.avro"
    bad.write_bytes(bytes(blob))
    with _pytest.raises(ValueError, match="sync"):
        read_avro_frame(spark, bad)
    hdr = synth_avro(schema, [])
    hdr = hdr.replace(b'"null"', b'"x0x0"').replace(b"null", b"x0x0", 1)
    with _pytest.raises((ValueError, NotImplementedError)):
        read_avro_header(
            synth_avro(schema, [], codec="null").replace(
                b"null", b"lz4x"
            )
        )
    with _pytest.raises(NotImplementedError, match="record"):
        synth_avro({"type": "array", "items": "long"}, [])
    # facade error path: malformed avro degrades to Failed, no raise
    assert parse(spark, str(bad))[0].parse_info == "Failed"


def test_repeat_epochs_cap_binds_on_skewed_sources(spark, tmp_path):
    """A tiny source under an equal budget share must hit the 4-epoch
    cap and report unfilled budget; a huge source serves its share in
    one epoch."""
    rows = []
    did = 0
    for _ in range(40):  # big: 40 docs x 10 tokens = 400
        rows.append((did, "t " * 9 + "t", "en", "big", 19))
        did += 1
    for _ in range(2):  # small: 2 docs x 10 tokens = 20
        rows.append((did, "t " * 9 + "t", "en", "small", 19))
        did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    qs = _queries()
    out = {
        r.source: r
        for r in qs["pipeline_repeat_epochs_advisor"](
            spark, str(tmp_path)
        ).collect()
    }
    # total 420 tokens, budget 3x = 1260, share 630 each
    big, small = out["big"], out["small"]
    assert big.source_tokens == 400 and big.budget_share == 630
    assert big.epochs == 2 and big.tokens_served == 630
    assert big.unfilled_budget == 0
    assert small.source_tokens == 20
    assert small.epochs == 4  # cap binds
    assert small.tokens_served == 80
    assert small.unfilled_budget == 630 - 4 * 20


def test_qi_ladder_one_expand_and_monotone(spark):
    """The ladder must compile to ONE Expand feeding one aggregate
    (never a rescan per rung), and walking UP the ladder must be
    monotone: min_group non-decreasing, at-risk share non-increasing,
    the fully-generalized rung one single group of N."""
    qs = _queries()
    df = qs["privacy_qi_generalization_ladder"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1
    rows = {r.qi_level: r for r in df.collect()}
    assert set(rows) == {0, 1, 3, 7}
    ladder = [rows[0], rows[1], rows[3], rows[7]]
    for a, b in zip(ladder, ladder[1:]):
        assert a.min_group <= b.min_group
        assert a.risk_share_q6 >= b.risk_share_q6
        assert a.n_groups >= b.n_groups
    top = rows[7]
    from almost_any_file_to_pandas_spark.plans import table

    n = table(spark, SF_DIR, "customer").count()
    assert (top.n_groups, top.min_group) == (1, n)
    assert top.k_reached and top.rows_below_k == 0


def test_avro_many_unions_files_block_parallel(spark, tmp_path):
    """read_avro_many: one frame over many container files, mixed
    codecs allowed, schema drift rejected loudly."""
    import pytest as _pytest

    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_many,
        synth_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": "double"},
        ],
    }
    total = []
    for i, codec in enumerate(("null", "deflate", "null")):
        rows = [(i * 100 + j, j * 0.5) for j in range(30)]
        total += rows
        (tmp_path / f"part{i}.avro").write_bytes(
            synth_avro(schema, rows, codec=codec, rows_per_block=7)
        )
    df = read_avro_many(spark, str(tmp_path / "*.avro"))
    got = sorted((r.id, r.v) for r in df.collect())
    assert got == sorted(total)
    # schema drift across files is a loud error
    other = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "string"}],
    }
    (tmp_path / "drift.avro").write_bytes(
        synth_avro(other, [("x",)])
    )
    with _pytest.raises(ValueError, match="schema mismatch"):
        read_avro_many(spark, str(tmp_path / "*.avro"))


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


def test_avro_sink_roundtrip_and_gate(spark, tmp_path):
    """write_avro: multi-partition frames land one complete container
    per partition and round-trip bit-exact through read_avro_many
    (readers widen int->long, float->double per the Avro-primitive
    mapping, so the fixture sticks to the exact-round-trip types);
    the sinks facade dispatches .avro; unsupported Spark types gate
    loudly; an empty frame still writes a readable empty container."""
    import glob

    import pytest as _pytest

    from almost_any_file_to_pandas_spark import sinks
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_many,
        write_avro,
    )

    df = spark.createDataFrame(
        [
            (i, f"s{i}", i * 0.5, i % 2 == 0,
             None if i % 5 == 0 else bytes([i % 250, 7]))
            for i in range(200)
        ],
        "id bigint, s string, v double, b boolean, raw binary",
    ).repartition(4)
    out = sinks.write(df, str(tmp_path / "corpus.avro"))
    parts = glob.glob(out + "/part-*.avro")
    assert len(parts) == 4
    back = read_avro_many(spark, out + "/part-*.avro")
    orig = sorted(
        (r.id, r.s, r.v, r.b, bytes(r.raw) if r.raw is not None else None)
        for r in df.collect()
    )
    got = sorted(
        (r.id, r.s, r.v, r.b, bytes(r.raw) if r.raw is not None else None)
        for r in back.collect()
    )
    assert got == orig
    assert dict(back.dtypes) == dict(df.dtypes)

    # unsupported type gates loudly
    tsdf = spark.sql("SELECT current_timestamp() AS ts")
    with _pytest.raises(NotImplementedError, match="timestamp"):
        write_avro(tsdf, str(tmp_path / "bad.avro"))

    # empty frame -> a valid empty container
    empty = df.filter("id < 0")
    out2 = write_avro(empty, str(tmp_path / "empty.avro"))
    assert read_avro_many(spark, out2 + "/part-*.avro").count() == 0


def test_fuzz_new_decoders_never_hang_or_crash_unstructured():
    """Hypothesis fuzz over the round-8 binary decoders: arbitrary
    bytes, truncations, and byte-patches of valid files must raise a
    CONTROLLED error (ValueError / NotImplementedError / struct.error
    / the json subset of ValueError) or return a well-formed result —
    never an uncontrolled exception type, never a hang."""
    import struct as _struct

    from hypothesis import given, settings, strategies as st

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_bitfields,
        decode_bmp_rle4,
        decode_wav_ima_adpcm,
        decode_wav_ms_adpcm,
        synth_bmp_bitfields,
        synth_bmp_rle4,
        synth_wav_ima_adpcm,
        synth_wav_ms_adpcm,
    )
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_header,
        synth_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    seeds = [
        synth_bmp_rle4(5, 4),
        synth_bmp_bitfields(4, 3, 16),
        synth_wav_ima_adpcm(3, 1, 9),
        synth_wav_ms_adpcm(3, 1, 10),
        synth_avro(schema, [(1,), (2,)]),
    ]
    decoders = [
        decode_bmp_rle4,
        decode_bmp_bitfields,
        decode_wav_ima_adpcm,
        decode_wav_ms_adpcm,
        read_avro_header,
    ]
    allowed = (ValueError, NotImplementedError, _struct.error)

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(0, len(seeds) - 1),
        st.binary(max_size=64),
        st.integers(0, 400),
        st.binary(min_size=1, max_size=8),
    )
    def fuzz(which, garbage, cut, patch):
        base = seeds[which]
        mutants = [
            garbage,
            base[:cut],
            base[:cut] + patch + base[cut + len(patch):],
        ]
        for blob in mutants:
            for dec in decoders:
                try:
                    dec(bytes(blob))
                except allowed:
                    pass

    fuzz()


def test_star_denormalize_plan_broadcasts_every_dimension(spark):
    """The 7-table star denormalization must plan the five dimension
    hops as BroadcastHashJoins with at most ONE non-broadcast join
    (the fact-fact orderkey edge), and the lineitem scan must be
    pruned to the joined/aggregated columns only."""
    import re

    qs = _queries()
    df = qs["star_denormalize_audit"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_bhj = plan.count("BroadcastHashJoin")
    n_smj = plan.count("SortMergeJoin")
    n_shj = plan.count("ShuffledHashJoin")
    assert n_bhj >= 5, plan[:2000]
    assert n_smj + n_shj <= 1
    assert "CartesianProduct" not in plan
    li_schemas = [
        m
        for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if "l_orderkey" in m
    ]
    assert li_schemas and all(
        "l_shipdate" not in m and "l_comment" not in m
        for m in li_schemas
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r.n_rows > 0 for r in rows)


def test_xz_facade_arm_matches_uncompressed(spark, tmp_path):
    """'.csv.xz' must parse to EXACTLY what the uncompressed file
    parses to (Hadoop has no xz codec and Spark would otherwise read
    raw compressed bytes as lines — the silent-garbage failure mode);
    provenance keeps the .xz path; malformed xz degrades to Failed."""
    import lzma

    from almost_any_file_to_pandas_spark import parse

    body = "id;name;qty\n1;alpha;10\n2;beta;20\n3;gamma;30\n"
    plain = tmp_path / "g.csv"
    plain.write_text(body)
    xz = tmp_path / "g.csv.xz"
    xz.write_bytes(lzma.compress(body.encode()))
    r_plain = parse(spark, str(plain))[0]
    r_xz = parse(spark, str(xz))[0]
    assert r_xz.parse_info == "OK"
    assert r_xz.file_path.endswith("g.csv.xz")
    a = r_plain.data.toPandas()
    b = r_xz.data.toPandas()
    assert a.equals(b) and a.shape == (4, 3)

    bad = tmp_path / "bad.csv.xz"
    bad.write_bytes(b"\xfd7zXZ garbage")
    assert parse(spark, str(bad))[0].parse_info == "Failed"


def test_intermittency_census_all_four_quadrants(spark, tmp_path):
    """Hand corpus hitting every Syntetos-Boylan quadrant + sparse:
    smooth (daily, constant qty), intermittent (long gaps, constant),
    erratic (daily, wild qty), lumpy (gaps AND wild), sparse (2
    demand days)."""
    import datetime

    base = datetime.date(1995, 1, 1)
    orders, lines = [], []
    ok = 0

    def add_part(pk, day_gaps, qtys):
        nonlocal ok
        d = base
        for gap, q in zip(day_gaps, qtys):
            d = d + datetime.timedelta(days=gap)
            orders.append((ok, d))
            lines.append((ok, pk, float(q)))
            ok += 1

    # smooth: ADI=1 (<=1.32), CV2=0
    add_part(1, [1] * 10, [5] * 10)
    # intermittent: ADI=5 (>1.32), CV2=0
    add_part(2, [5] * 10, [5] * 10)
    # erratic: ADI=1, wild sizes -> CV2 > 0.49
    add_part(3, [1] * 10, [1, 50, 1, 50, 1, 50, 1, 50, 1, 50])
    # lumpy: gaps AND wild
    add_part(4, [7] * 10, [1, 80, 1, 80, 1, 80, 1, 80, 1, 80])
    # sparse: only 2 demand days
    add_part(5, [1, 30], [3, 3])

    odf = spark.createDataFrame(
        orders, "o_orderkey long, o_orderdate date"
    )
    ldf = spark.createDataFrame(
        lines, "l_orderkey long, l_partkey long, l_quantity double"
    )
    odf.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    ldf.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    qs = _queries()
    out = {
        r.demand_class: r.n_parts
        for r in qs["part_demand_intermittency_census"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out == {
        "smooth": 1,
        "intermittent": 1,
        "erratic": 1,
        "lumpy": 1,
        "sparse": 1,
    }


def test_anisotropy_collapsed_cloud_is_one(spark, tmp_path):
    """A fully collapsed cloud (every embedding identical) has
    ||mean||^2 == E||x||^2 exactly -> anisotropy_q6 == 1e6; on real
    testdata the ratio must sit strictly inside (0, 1e6)."""
    vec = [float((i % 7) - 3) / 4.0 for i in range(16)]
    rows = [(i, vec, "a") for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    qs = _queries()
    (r,) = qs["emb_anisotropy_report"](spark, str(tmp_path)).collect()
    assert (r.n_vectors, r.n_dims) == (40, 16)
    assert r.anisotropy_q6 == 1_000_000
    (t,) = qs["emb_anisotropy_report"](spark, SF_DIR).collect()
    assert 0 < t.anisotropy_q6 < 1_000_000
