"""Round-9 session tests: the '.xz' façade lifecycle/bomb hardening
and the round-9 operators (r8 verdict #2, ADVICE)."""

from __future__ import annotations

import os

import __spark_entry__  # noqa: F401  (loads the query registry)
from almost_any_file_to_pandas_spark.plans import ORACLES, QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_xz_temp_files_tracked_and_cleaned(spark, tmp_path):
    """Each '.xz' parse registers exactly one temp file (r8 verdict
    #2: the old arm leaked one NamedTemporaryFile per parse forever);
    the atexit hook unlinks them all; the owning ParseResult carries
    the path."""
    import lzma

    from almost_any_file_to_pandas_spark import parse
    from almost_any_file_to_pandas_spark.parse import (
        _XZ_TEMP_FILES,
        _cleanup_xz_temp_files,
    )

    before = list(_XZ_TEMP_FILES)
    body = "id;name\n1;alpha\n2;beta\n"
    for stem in ("a", "b"):
        f = tmp_path / f"{stem}.csv.xz"
        f.write_bytes(lzma.compress(body.encode()))
        res = parse(spark, str(f))[0]
        assert res.parse_info == "OK"
        assert res.temp_path is not None
        assert os.path.exists(res.temp_path)
    created = [p for p in _XZ_TEMP_FILES if p not in before]
    assert len(created) == 2
    _cleanup_xz_temp_files()
    for p in created:
        assert not os.path.exists(p)
    assert not _XZ_TEMP_FILES


def test_xz_bomb_guard(spark, tmp_path, monkeypatch):
    """A stream expanding past the façade ceiling degrades to a failed
    answer (never raises, mirrors the Avro deflate guard) and leaves
    no temp file behind."""
    import lzma
    import sys

    from almost_any_file_to_pandas_spark import parse
    from almost_any_file_to_pandas_spark.parse import _XZ_TEMP_FILES

    parse_mod = sys.modules["almost_any_file_to_pandas_spark.parse"]
    monkeypatch.setattr(parse_mod, "XZ_MAX_DECOMPRESSED_BYTES", 64)
    body = ("x" * 4096 + "\n") * 16
    f = tmp_path / "bomb.csv.xz"
    f.write_bytes(lzma.compress(body.encode()))
    before = list(_XZ_TEMP_FILES)
    res = parse(spark, str(f))
    assert len(res) == 1 and res[0].parse_info == "Failed"
    assert _XZ_TEMP_FILES == before


# ---------------------------------------------------------------------------
# Avro round-9: snappy codec, multi-branch unions, round-trip fixed
# point, save-mode semantics, header-only indexing (r8 verdict #6/#7,
# ADVICE items)
# ---------------------------------------------------------------------------


def test_snappy_decompress_spec_vectors():
    """Hand-crafted raw-snappy streams: literals, 1/2-byte-offset
    copies, overlapping copies (run repetition), and the malformed
    class (bad offset, truncation, preamble overrun) — all per the
    public format description."""
    import pytest as _pytest

    from almost_any_file_to_pandas_spark.sources.avro import (
        snappy_compress,
        snappy_decompress,
    )

    # literal-only round-trip (our own encoder)
    for payload in (b"", b"x", b"hello world" * 1000, bytes(range(256))):
        assert snappy_decompress(snappy_compress(payload)) == payload

    # copy with 1-byte offset: "abcd" then copy(len=4, off=4) = abcdabcd
    s = bytes([8]) + bytes([3 << 2]) + b"abcd" + bytes([(0 << 2) | 1, 4])
    assert snappy_decompress(s) == b"abcdabcd"

    # overlapping copy: "ab" then copy(len=6, off=2) = ab ababab
    s = bytes([8]) + bytes([1 << 2]) + b"ab" + bytes([(2 << 2) | 1, 2])
    assert snappy_decompress(s) == b"abababab"

    # 2-byte-offset copy form of the first vector
    s = (
        bytes([8]) + bytes([3 << 2]) + b"abcd"
        + bytes([(3 << 2) | 2]) + (4).to_bytes(2, "little")
    )
    assert snappy_decompress(s) == b"abcdabcd"

    with _pytest.raises(ValueError, match="offset"):
        snappy_decompress(bytes([4]) + bytes([0 << 2]) + b"a"
                          + bytes([(0 << 2) | 1, 9]))
    with _pytest.raises(ValueError):
        snappy_decompress(bytes([200]) + bytes([3 << 2]) + b"ab")
    with _pytest.raises(ValueError, match="guard"):
        snappy_decompress(snappy_compress(b"x" * 100), max_out=10)
    # output overruns preamble: declares 2, writes 4
    with _pytest.raises(ValueError):
        snappy_decompress(bytes([2]) + bytes([3 << 2]) + b"abcd")


def test_avro_snappy_codec_roundtrip(spark, tmp_path):
    """Avro OCF snappy codec (r8 verdict #6): synth → distributed scan
    round-trips; the sink writes snappy containers read_avro_many
    ingests; a corrupted CRC is rejected loudly."""
    import pytest as _pytest

    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_frame,
        read_avro_many,
        synth_avro,
        write_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "note", "type": ["null", "string"]},
        ],
    }
    rows = [
        (i, f"n{i}" * (i % 7), None if i % 3 == 0 else f"x{i}")
        for i in range(100)
    ]
    path = tmp_path / "t_snappy.avro"
    blob = synth_avro(schema, rows, codec="snappy", rows_per_block=13)
    path.write_bytes(blob)
    got = sorted(
        (r.id, r.name, r.note)
        for r in read_avro_frame(spark, path).collect()
    )
    assert got == sorted(rows)

    # CRC corruption: flip a byte inside the first block payload
    bad = bytearray(blob)
    hdr_end = blob.index(bytes((i * 17 + 3) % 256 for i in range(16))) + 16
    bad[hdr_end + 10] ^= 0xFF
    badp = tmp_path / "bad_snappy.avro"
    badp.write_bytes(bytes(bad))
    # the corruption lands in an executor-decoded payload, so the
    # ValueError arrives wrapped in Spark's task-failure exception
    with _pytest.raises(Exception, match="snappy|CRC|block"):
        read_avro_frame(spark, badp).collect()

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(50)], "id bigint, s string"
    ).repartition(3)
    out = write_avro(df, str(tmp_path / "corp"), codec="snappy")
    back = read_avro_many(spark, out + "/part-*.avro")
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(
        (r.id, r.s) for r in df.collect()
    )


def test_avro_multibranch_union_struct_of_nullables(spark, tmp_path):
    """Multi-branch unions (r8 verdict #7) land as struct-of-nullables
    — one u{k} field per non-null branch, exactly one populated; the
    null branch yields a NULL struct."""
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_frame,
        synth_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "v", "type": ["null", "long", "string"]},
        ],
    }
    rows = [(0, 42), (1, "forty-two"), (2, None), (3, -7), (4, "x")]
    p = tmp_path / "u.avro"
    p.write_bytes(synth_avro(schema, rows))
    df = read_avro_frame(spark, p)
    assert dict(df.dtypes)["v"] == "struct<u0:bigint,u1:string>"
    got = {r.id: r.v for r in df.collect()}
    assert got[0] == (42, None)
    assert got[1] == (None, "forty-two")
    assert got[2] is None
    assert got[3] == (-7, None)
    assert got[4] == (None, "x")


def test_avro_int_float_roundtrip_fixed_point(spark, tmp_path):
    """write→read is a FIXED POINT of the type lattice (r8 ADVICE):
    int stays int, float stays float — no silent widening."""
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_frame,
        read_avro_many,
        synth_avro,
        write_avro,
    )

    # reader side: a third-party container with int/float fields
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "f", "type": "float"},
        ],
    }
    p = tmp_path / "if.avro"
    p.write_bytes(synth_avro(schema, [(7, 0.5), (-3, 2.25)]))
    df = read_avro_frame(spark, p)
    assert dict(df.dtypes) == {"i": "int", "f": "float"}
    assert sorted((r.i, r.f) for r in df.collect()) == [
        (-3, 2.25), (7, 0.5)
    ]

    # writer side: int/float Spark frame round-trips to int/float
    src = spark.createDataFrame(
        [(1, 1.5), (2, -0.25)], "i int, f float"
    )
    out = write_avro(src, str(tmp_path / "ifw"))
    back = read_avro_many(spark, out + "/part-*.avro")
    assert dict(back.dtypes) == {"i": "int", "f": "float"}
    assert sorted((r.i, r.f) for r in back.collect()) == [
        (1, 1.5), (2, -0.25)
    ]


def test_avro_sink_save_mode(spark, tmp_path):
    """write_avro save-mode semantics (r8 ADVICE medium): default
    refuses a non-empty target; overwrite clears stale part files so
    a narrower re-write can't leave mixed old+new data."""
    import glob

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_many,
        write_avro,
    )

    dest = str(tmp_path / "corp")
    wide = spark.createDataFrame(
        [(i,) for i in range(40)], "id bigint"
    ).repartition(4)
    write_avro(wide, dest)
    assert len(glob.glob(dest + "/part-*.avro")) == 4

    with _pytest.raises(ValueError, match="overwrite"):
        write_avro(wide.limit(5), dest)

    narrow = spark.createDataFrame(
        [(100 + i,) for i in range(6)], "id bigint"
    ).coalesce(1)
    write_avro(narrow, dest, mode="overwrite")
    parts = glob.glob(dest + "/part-*.avro")
    assert len(parts) == 1
    got = sorted(r.id for r in read_avro_many(spark, dest + "/part-*.avro").collect())
    assert got == list(range(100, 106))


def test_permutation_test_sign_safe_division(spark, tmp_path):
    """events_permutation_test parity on a corpus with NEGATIVE values
    (r8 ADVICE: the plan must not assume non-negative sums). Spark
    `div` and DuckDB `//` both truncate toward zero; these cohort sums
    divide evenly, and
    ``tests/test_textstats.py::test_negative_integer_division_matches_oracle``
    pins a remainder."""
    import datetime
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import frame_fingerprint

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i % 11,            # user_id: 11 users
            i,                 # event_id
            base + datetime.timedelta(minutes=i),
            # values sum NEGATIVE for some users, with remainders
            (-1) ** i * (i % 7) - 1.25,
            "view",
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp, "
        "value double, event_type string"
    )
    sf = tmp_path / "mini"
    sf.mkdir()
    df.coalesce(1).write.parquet(str(sf / "events.parquet"))

    sdf = QUERIES["events_permutation_test"](spark, str(sf))
    s_hash, s_n, s_cols = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet/*.parquet')"
    )
    cur = con.execute(ORACLES["events_permutation_test"])
    dcols = [d[0] for d in cur.description]
    d_hash, d_n, d_cols = frame_fingerprint(dcols, cur.fetchall())
    assert s_cols == d_cols and s_n == d_n and s_hash == d_hash


def test_bmp_png_decode_roundtrip_and_malformed():
    """BI_PNG BMP (r9 — closes the PNG half of the r8 'methods 4/5'
    gate): the embedded PNG decodes through the engine's own PNG
    path; DIB/PNG dimension contradictions, truncated payloads, and
    wrong-method containers raise ValueError; decode_image reports
    metadata without Pillow."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_png,
        decode_image,
        synth_bmp_png,
    )

    for w, h in ((1, 1), (16, 8), (7, 3)):
        blob = synth_bmp_png(w, h)
        gw, gh, pixels = decode_bmp_png(blob)
        assert (gw, gh) == (w, h)
        assert len(pixels) == w * h
        assert sum(pixels) == sum(
            (x + y) for y in range(h) for x in range(w)
        )
        assert decode_image(blob) == (w, h, "PNG")

    blob = bytearray(synth_bmp_png(5, 4))
    # contradict the DIB width
    struct.pack_into("<i", blob, 18, 6)
    with _pytest.raises(ValueError, match="contradict"):
        decode_bmp_png(bytes(blob))

    # truncated payload: chop the PNG tail
    blob2 = synth_bmp_png(5, 4)[:-8]
    with _pytest.raises(ValueError):
        decode_bmp_png(blob2)

    # wrong method: an uncompressed BMP through the BI_PNG arm
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        synth_bmp,
    )

    with _pytest.raises(ValueError, match="compression"):
        decode_bmp_png(synth_bmp(4, 4))

    # declared biSizeImage overrunning the file
    blob3 = bytearray(synth_bmp_png(5, 4))
    struct.pack_into("<I", blob3, 34, 1 << 30)
    with _pytest.raises(ValueError, match="size out of range"):
        decode_bmp_png(bytes(blob3))


def test_emd_drift_hand_corpus(spark, tmp_path):
    """orders_value_emd_drift pins the binned-W1 semantics by hand:
    all early mass at $500 (bin 0), all late mass k bins away → W1 is
    exactly k bin-widths; a missing-bin run is priced by the LEAD gap."""
    import datetime

    from almost_any_file_to_pandas_spark.plans import QUERIES

    early = datetime.datetime(1996, 1, 1)
    late = datetime.datetime(2000, 1, 1)

    def run(rows):
        sf = tmp_path / f"m{len(list(tmp_path.iterdir()))}"
        sf.mkdir()
        spark.createDataFrame(
            rows, "o_totalprice double, o_orderdate timestamp"
        ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
        return QUERIES["orders_value_emd_drift"](spark, str(sf)).collect()[0]

    # adjacent bins: W1 = one $1000 bin width
    r = run([(500.0, early)] * 4 + [(1500.0, late)] * 4)
    assert (r.n_a, r.n_b, r.n_bins) == (4, 4, 2)
    assert r.w1_cents == 100_000 // 1  # $1000 in cents
    assert r.w1_cents_q6 == 100_000 * 1_000_000

    # five-bin run with NO mass in bins 1-4: gap pricing carries the
    # |ΔCDF| across the empty run → W1 = 5 bin widths
    r = run([(500.0, early)] * 3 + [(5500.0, late)] * 3)
    assert r.n_bins == 2
    assert r.w1_cents == 5 * 100_000

    # identical distributions → zero drift
    r = run([(500.0, early), (1500.0, early),
             (500.0, late), (1500.0, late)])
    assert r.w1_cents_q6 == 0


def test_calibration_census_and_ece_hand_corpus(spark, tmp_path):
    """Reliability census + ECE on a hand corpus: quantity 50 → score
    1.0; returnflag R → label 1. Perfectly calibrated rows gap 0;
    anti-calibrated rows gap 1e6; ECE is the count-weighted mean."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    rows = (
        [(50.0, "R")] * 6        # score 1.0, label 1 → gap 0
        + [(50.0, "N")] * 2      # score 1.0, label 0 → gap 1e6
    )
    sf = tmp_path / "cal"
    sf.mkdir()
    spark.createDataFrame(
        rows, "l_quantity double, l_returnflag string"
    ).coalesce(1).write.parquet(str(sf / "lineitem.parquet"))

    census = {
        r.bin: r
        for r in QUERIES["lineitem_return_calibration_census"](
            spark, str(sf)
        ).collect()
    }
    # all rows score 1.0 → clamped into the top bin
    assert list(census) == [9]
    top = census[9]
    assert (top.n, top.n_pos) == (8, 6)
    assert top.score_mean_q6 == 1_000_000
    assert top.label_rate_q6 == 750_000
    assert top.gap_q6 == 250_000

    ece = QUERIES["lineitem_return_calibration_ece"](
        spark, str(sf)
    ).collect()[0]
    assert (ece.n_rows, ece.n_bins_used) == (8, 1)
    assert ece.ece_q6 == 250_000 and ece.mce_q6 == 250_000


# ---------------------------------------------------------------------------
# Baseline JPEG decoder (r9 — closes the BI_JPEG half of the r8
# 'methods 4/5' gate): bit-exact per-block-constant round trips,
# restart markers, 4:4:4 / 4:2:0 color, partial blocks, the BI_JPEG
# BMP container, and the malformed/unsupported classes.
# ---------------------------------------------------------------------------


def _jpeg_expected_sum(w, h):
    from almost_any_file_to_pandas_spark.operators.jpeg import block_value

    bx = (w + 7) // 8
    return sum(
        block_value((y // 8) * bx + (x // 8))
        for y in range(h)
        for x in range(w)
    )


def test_jpeg_gray_roundtrip_exact():
    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_jpeg,
        synth_jpeg,
    )

    for w, h in ((8, 8), (32, 16), (24, 8), (12, 10), (9, 17)):
        gw, gh, mode, px = decode_jpeg(synth_jpeg(w, h))
        assert (gw, gh, mode) == (w, h, "L")
        assert len(px) == w * h
        assert sum(px) == _jpeg_expected_sum(w, h)


def test_jpeg_restart_markers_exact():
    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_jpeg,
        synth_jpeg,
    )

    # enough MCUs to wrap the RST0-7 cycle (32 blocks, interval 3)
    for ri in (1, 2, 3, 7):
        _, _, _, px = decode_jpeg(synth_jpeg(64, 32, restart_interval=ri))
        assert sum(px) == _jpeg_expected_sum(64, 32)


def test_jpeg_color_444_and_420_neutral_chroma():
    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_jpeg,
        synth_jpeg_color,
    )

    from almost_any_file_to_pandas_spark.operators.jpeg import (
        block_value,
    )

    for sub, w, h in (
        ("4:4:4", 24, 16),
        ("4:2:0", 32, 32),
        ("4:2:0", 20, 12),  # partial MCU crop
    ):
        gw, gh, mode, px = decode_jpeg(synth_jpeg_color(w, h, sub))
        assert (gw, gh, mode) == (w, h, "RGB")
        # neutral chroma: every RGB triple equals the Y constant
        assert all(
            px[i] == px[i + 1] == px[i + 2]
            for i in range(0, len(px), 3)
        )
        # Y block indices walk the MCU-PADDED y-plane grid (4:2:0 pads
        # to 16-pixel MCUs), so the expected sum uses that grid too
        yh = 2 if sub == "4:2:0" else 1
        ybx = ((w + 8 * yh - 1) // (8 * yh)) * yh
        exp = sum(
            block_value((y // 8) * ybx + (x // 8))
            for y in range(h)
            for x in range(w)
        )
        assert sum(px) == 3 * exp


def test_jpeg_malformed_and_unsupported():
    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_jpeg,
        synth_jpeg,
    )

    blob = synth_jpeg(16, 8)
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"\x89PNG" + blob)
    # progressive gate: flip SOF0 -> SOF2
    with _pytest.raises(NotImplementedError, match="baseline"):
        decode_jpeg(blob.replace(b"\xff\xc0", b"\xff\xc2"))
    # truncated entropy stream
    with _pytest.raises(ValueError):
        decode_jpeg(blob[: len(blob) - 6])
    # SOS before SOF: drop the SOF segment entirely
    sof_at = blob.index(b"\xff\xc0")
    seglen = int.from_bytes(blob[sof_at + 2 : sof_at + 4], "big")
    no_sof = blob[:sof_at] + blob[sof_at + 2 + seglen :]
    with _pytest.raises(ValueError, match="SOS before SOF"):
        decode_jpeg(no_sof)


def test_bmp_jpeg_container_roundtrip():
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_bmp_jpeg,
        synth_bmp_jpeg,
    )
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_image,
    )

    blob = synth_bmp_jpeg(16, 8)
    w, h, px = decode_bmp_jpeg(blob)
    assert (w, h) == (16, 8)
    assert sum(px) == _jpeg_expected_sum(16, 8)
    assert decode_image(blob) == (16, 8, "JPEG")

    bad = bytearray(blob)
    struct.pack_into("<i", bad, 18, 99)  # contradict DIB width
    with _pytest.raises(ValueError, match="contradict"):
        decode_bmp_jpeg(bytes(bad))


def test_fuzz_round9_decoders_never_hang_or_crash():
    """Hypothesis fuzz over the round-9 binary decoders (JPEG, snappy,
    BI_PNG / BI_JPEG containers, the streaming Avro header): arbitrary
    bytes, truncations, and byte-patches of valid files must raise a
    CONTROLLED error (ValueError / NotImplementedError / struct.error)
    or return a well-formed result — never an uncontrolled exception
    type, never a hang."""
    import io
    import struct as _struct

    from hypothesis import given, settings, strategies as st

    from almost_any_file_to_pandas_spark.operators.jpeg import (
        decode_bmp_jpeg,
        decode_jpeg,
        synth_bmp_jpeg,
        synth_jpeg,
        synth_jpeg_color,
    )
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_png,
        synth_bmp_png,
    )
    from almost_any_file_to_pandas_spark.sources.avro import (
        read_avro_header_stream,
        snappy_decompress,
        synth_avro,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "id", "type": "long"}],
    }
    seeds = [
        synth_jpeg(16, 8),
        synth_jpeg(24, 16, restart_interval=2),
        synth_jpeg_color(16, 16, "4:2:0"),
        synth_bmp_jpeg(8, 8),
        synth_bmp_png(6, 5),
        synth_avro(schema, [(1,), (2,)], codec="snappy"),
    ]

    def header_stream(blob: bytes):
        return read_avro_header_stream(io.BytesIO(blob))

    decoders = [
        decode_jpeg,
        decode_bmp_jpeg,
        decode_bmp_png,
        snappy_decompress,
        header_stream,
    ]
    allowed = (ValueError, NotImplementedError, _struct.error)

    @settings(max_examples=120, deadline=None)
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


def test_bootstrap_mean_ci_properties(spark):
    """Poissonized bootstrap CI: B=199 replicates survive the Σk>0
    guard, the percentile interval brackets the full-sample mean, and
    the result is deterministic (hash-randomized, not RNG)."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    r1 = QUERIES["orders_bootstrap_mean_ci"](spark, SF_DIR).collect()[0]
    r2 = QUERIES["orders_bootstrap_mean_ci"](spark, SF_DIR).collect()[0]
    assert r1 == r2
    assert r1.b_reps == 199
    assert r1.ci_lo_cents <= r1.mean_cents <= r1.ci_hi_cents
    assert r1.ci_lo_cents < r1.ci_hi_cents
    assert r1.n_orders > 0


def test_hyperball_matches_exact_on_small_graph(spark):
    """One HyperBall round at lgK=14 on the sf0.01 coactivity graph
    (sf0.001's thresholded graph is empty): sparse-mode HLL is
    near-exact at these ball sizes, so every node's tolerance boolean
    holds and the node set equals the exact 2-hop frame's."""
    from almost_any_file_to_pandas_spark.plans import QUERIES

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["graph_hyperball_reach_floor"](spark, sf).collect()
    exact = QUERIES["graph_two_hop_reach"](spark, sf).collect()
    assert len(rows) == len(exact) > 0
    assert all(r.within_tol for r in rows)
    by_node = {r.user_id: r.reach_2hop for r in exact}
    assert all(r.reach_2hop == by_node[r.user_id] for r in rows)


def test_qte_hand_corpus(spark, tmp_path):
    """Exact quantile treatment effects pinned by hand: control values
    1..100 cents, treatment shifted +10 only above its median — QTE is
    0 at p25 and +10 at p75 (ceil-rank order statistics)."""
    import datetime

    from almost_any_file_to_pandas_spark.plans import QUERIES

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(1, 101):
        # control: user 0 (side 0), value i cents
        rows.append((0, len(rows), base, i / 100.0, "view"))
        # treatment: user 1 (side 1), +10 only in the top half
        v = i + (10 if i > 50 else 0)
        rows.append((1, len(rows), base, v / 100.0, "view"))
    sf = tmp_path / "qte"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts timestamp, value double,"
        " event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))

    got = {
        r.q_pct: r
        for r in QUERIES["events_ab_quantile_effects"](
            spark, str(sf)
        ).collect()
    }
    assert got[25].control_cents == 25 and got[25].qte_cents == 0
    assert got[50].control_cents == 50 and got[50].qte_cents == 0
    assert got[75].control_cents == 75 and got[75].qte_cents == 10


def test_emd_empty_cohort_yields_null(spark, tmp_path):
    """W1 against an EMPTY cohort is undefined: NULL, not div-by-zero
    (the single-row degenerate corpus shape)."""
    import datetime

    from almost_any_file_to_pandas_spark.plans import QUERIES

    sf = tmp_path / "emd1"
    sf.mkdir()
    spark.createDataFrame(
        [(500.0, datetime.datetime(1996, 1, 1))],
        "o_totalprice double, o_orderdate timestamp",
    ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
    r = QUERIES["orders_value_emd_drift"](spark, str(sf)).collect()[0]
    assert (r.n_a, r.n_b) == (1, 0)
    assert r.w1_cents_q6 is None and r.w1_cents is None


def test_power_mde_hand_corpus(spark, tmp_path):
    """MDE pinned by hand: two equal cohorts with known per-user
    variance — MDE = 2.801585·σ·√(2/n) in exact micros."""
    import datetime
    import math

    from almost_any_file_to_pandas_spark.plans import QUERIES

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # 8 users per side; per-user total alternates 1.0 / 3.0 → var = 32/15... 
    # keep exactly computable: totals [1,3]*4 per side
    for u in range(16):
        v = 1.0 if u % 4 < 2 else 3.0
        rows.append((u, eid, base, v, "view"))
        eid += 1
    sf = tmp_path / "mde"
    sf.mkdir()
    spark.createDataFrame(
        rows, "user_id bigint, event_id bigint, ts timestamp,"
        " value double, event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))

    r = QUERIES["events_ab_power_mde"](spark, str(sf)).collect()[0]
    assert (r.n_a, r.n_b) == (8, 8)
    # per side totals: four 1e6, four 3e6 → mean 2e6, sample var =
    # 8·(4·1e12+4·9e12) − (16e6)² over 8·7 = (320e12−256e12)/56
    var = (8 * (4 * 1e12 + 4 * 9e12) - (16e6) ** 2) / (8 * 7)
    sd = int(math.floor(math.sqrt(var) + 0.5))
    assert r.sd_a_micros == r.sd_b_micros == sd
    mde = int(math.floor(2.801585 * math.sqrt(var / 8 + var / 8) + 0.5))
    assert r.mde_micros == mde


def test_srm_check_hand_corpus(spark, tmp_path):
    """SRM alarm pinned by hand: a 100/50 split gives χ² = 50²/150 =
    16.67 > 3.84 → alarm; a 75/75 split gives 0 → quiet."""
    import datetime

    from almost_any_file_to_pandas_spark.plans import QUERIES

    base = datetime.datetime(2024, 1, 1)

    def run(n_even, n_odd):
        sf = tmp_path / f"srm{n_even}_{n_odd}"
        sf.mkdir()
        rows = [(2 * u, u, base, 1.0, "view") for u in range(n_even)]
        rows += [
            (2 * u + 1, 10_000 + u, base, 1.0, "view")
            for u in range(n_odd)
        ]
        spark.createDataFrame(
            rows, "user_id bigint, event_id bigint, ts timestamp,"
            " value double, event_type string",
        ).coalesce(1).write.parquet(str(sf / "events.parquet"))
        return QUERIES["events_ab_srm_check"](spark, str(sf)).collect()[0]

    r = run(100, 50)
    assert (r.n_a, r.n_b) == (100, 50)
    assert r.chi2_q6 == (50 * 50 * 1_000_000) // 150
    assert r.srm_alarm is True

    r = run(75, 75)
    assert r.chi2_q6 == 0 and r.srm_alarm is False
