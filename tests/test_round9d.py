"""GIF/LZW codec battery (operators/multimodal.py): hand-derived
code-stream pins, round-trips that force every dictionary regime
(KwKwK, 9→10→11-bit width growth, the 4096-entry clear-reset),
container parsing (extensions, local color tables), malformed-input
errors, and a Hypothesis fuzz pass.
"""

from __future__ import annotations

import struct

import pytest

from almost_any_file_to_pandas_spark.operators.multimodal import (
    _lzw_decode_gif,
    _lzw_encode_gif,
    decode_gif_gray,
    synth_gif,
)


def _gif_with_indices(w, h, indices, min_code=8, n_colors=256):
    """Assemble a GIF87a around an arbitrary index plane (test-side
    container builder mirroring synth_gif)."""
    size_field = max(1, (n_colors - 1).bit_length() - 1)
    lsd = struct.pack(
        "<6sHHBBB", b"GIF87a", w, h, 0x80 | size_field, 0, 0
    )
    n_entries = 2 << size_field
    gct = bytes(
        v for i in range(n_entries) for v in (i % 256, i % 256, i % 256)
    )
    img = struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0)
    lzw = _lzw_encode_gif(bytes(indices), min_code)
    blocks = bytearray([min_code])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return lsd + gct + img + bytes(blocks) + b"\x3b"


def test_lzw_hand_derived_code_stream():
    """min_code=2, data [0,1,2]: codes clear(4), 0, 1, 2, eoi(5) at
    3 bits each, packed LSB-first → bytes 0x44 0x54 (worked out by
    hand from the spec's bit-packing rules)."""
    packed = _lzw_encode_gif(bytes([0, 1, 2]), 2)
    assert packed == b"\x44\x54"
    assert _lzw_decode_gif(packed, 2, 100) == bytes([0, 1, 2])


def test_lzw_kwkwk_constant_run():
    """A constant run hits the KwKwK case (decoder receives a code
    equal to its own next slot) on the second emitted code."""
    data = bytes([7]) * 50
    packed = _lzw_encode_gif(data, 8)
    assert _lzw_decode_gif(packed, 8, 100) == data


@pytest.mark.parametrize(
    "w,h,fn",
    [
        (3, 2, lambda x, y: (x + y) % 256),
        (16, 8, lambda x, y: (x + y) % 256),
        (64, 64, lambda x, y: (x * 7 + y * 13) % 256),  # width growth
        (128, 64, lambda x, y: (x * 31 + y * 17 + x * y) % 256),
        # ^ enough novel contexts to fill the 4096-entry table and
        #   force the encoder's CLEAR-reset path
    ],
)
def test_gif_round_trip(w, h, fn):
    indices = [fn(x, y) for y in range(h) for x in range(w)]
    blob = _gif_with_indices(w, h, indices)
    gw, gh, values = decode_gif_gray(blob)
    assert (gw, gh) == (w, h)
    assert values == indices  # grayscale palette: value == index


def test_synth_gif_gradient_closed_form():
    w, h = 16, 8
    gw, gh, values = decode_gif_gray(synth_gif(w, h))
    assert (gw, gh) == (w, h)
    assert sum(values) == h * w * (w - 1) // 2 + w * h * (h - 1) // 2


def test_gif_extension_blocks_are_skipped():
    base = synth_gif(4, 3)
    # splice a graphic-control extension between the color table and
    # the image descriptor (13-byte header + 768-byte GCT)
    cut = 13 + 768
    ext = bytes([0x21, 0xF9, 4, 0, 0, 0, 0, 0])
    spliced = base[:cut] + ext + base[cut:]
    assert decode_gif_gray(spliced)[:2] == (4, 3)


def test_gif_malformed_inputs_raise_value_error():
    good = synth_gif(6, 4)
    for blob in [
        b"",
        b"GIF8",
        b"NOTAGIF" + good[7:],
        good[:20],          # truncated in the color table
        good[:-1],          # missing trailer byte after EOI is fine —
    ][:4]:
        with pytest.raises(ValueError):
            decode_gif_gray(blob)
    # index beyond a 4-entry palette
    blob = _gif_with_indices(2, 2, [0, 1, 2, 3], min_code=2, n_colors=4)
    bad = _gif_with_indices(2, 2, [0, 1, 2, 5], min_code=3, n_colors=4)
    assert decode_gif_gray(blob)[2] == [0, 1, 2, 3]
    with pytest.raises(ValueError):
        decode_gif_gray(bad)
    # declared pixel count vs decoded length mismatch
    short = _gif_with_indices(4, 4, [0] * 12)
    with pytest.raises(ValueError, match="expected"):
        decode_gif_gray(short)


def test_gif_fuzz_never_hangs_or_crashes():
    from hypothesis import given, settings, strategies as st

    seeds = [synth_gif(16, 8), synth_gif(5, 5)]

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(0, len(seeds) - 1),
        st.binary(max_size=64),
        st.integers(0, 500),
        st.binary(min_size=1, max_size=8),
    )
    def fuzz(which, garbage, cut, patch):
        base = seeds[which]
        for blob in [
            garbage,
            base[:cut],
            base[:cut] + patch + base[cut + len(patch):],
        ]:
            try:
                decode_gif_gray(bytes(blob))
            except ValueError:
                pass

    fuzz()


# --------------------------------------------------------------- TIFF


def test_tiff_lzw_hand_derived_stream():
    """Codes clear(256), 0, 1, 2, eoi(257) at 9 bits MSB-first pack
    to 80 00 00 20 28 08 (worked out by hand per TIFF6 §13)."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    enc = _lzw_encode_tiff(bytes([0, 1, 2]))
    assert enc == bytes.fromhex("800000202808")
    assert _lzw_decode_tiff(enc, 10) == bytes([0, 1, 2])


def test_tiff_lzw_early_change_and_reset_round_trip():
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    for data in [
        bytes([9]) * 40,  # KwKwK
        bytes((x * 7 + 13 * (x // 64)) % 256 for x in range(4096)),
        bytes(
            (x * 31 + y * 17 + x * y) % 256
            for y in range(64)
            for x in range(128)
        ),  # fills the table: early-change growth + clear-reset
    ]:
        assert _lzw_decode_tiff(_lzw_encode_tiff(data), len(data)) == data


@pytest.mark.parametrize("comp", [1, 5])
def test_tiff_round_trip_multistrip(comp):
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_tiff_gray,
        synth_tiff,
    )

    w, h = 16, 11  # 11 rows / 4-row strips → 3 strips, last ragged
    gw, gh, vals = decode_tiff_gray(synth_tiff(w, h, comp))
    assert (gw, gh) == (w, h)
    assert vals == [
        (x + y) % 256 for y in range(h) for x in range(w)
    ]


def test_tiff_big_endian_decode():
    """A hand-assembled MM (big-endian) 3×1 raw TIFF decodes
    identically — the endianness arm is real, not a header check."""
    import struct

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_tiff_gray,
    )

    pixels = bytes([5, 6, 7])
    # header(8) + pixels(3) + pad(1) → IFD at 12
    def entry(tag, typ, count, value):
        return struct.pack(">HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, 3),
        entry(257, 4, 1, 1),
        entry(258, 3, 1, 8 << 16),  # SHORT value is left-justified
        entry(259, 3, 1, 1 << 16),
        entry(273, 4, 1, 8),
        entry(277, 3, 1, 1 << 16),
        entry(279, 4, 1, 3),
    ]
    blob = (
        struct.pack(">2sHI", b"MM", 42, 12)
        + pixels
        + b"\x00"
        + struct.pack(">H", len(entries))
        + b"".join(entries)
        + struct.pack(">I", 0)
    )
    assert decode_tiff_gray(blob) == (3, 1, [5, 6, 7])


def test_tiff_malformed_and_gates():
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_tiff_gray,
        synth_tiff,
    )

    good = synth_tiff(8, 6, 5)
    with pytest.raises(ValueError):
        decode_tiff_gray(b"")
    with pytest.raises(ValueError):
        decode_tiff_gray(b"XX" + good[2:])
    with pytest.raises(ValueError):
        decode_tiff_gray(good[:30])
    # unsupported compression value gates honestly
    import struct

    patched = bytearray(synth_tiff(4, 4, 1))
    # find the compression entry (tag 259) in the IFD and patch it
    ifd_off = struct.unpack("<I", patched[4:8])[0]
    n = struct.unpack("<H", patched[ifd_off : ifd_off + 2])[0]
    for i in range(n):
        base = ifd_off + 2 + 12 * i
        tag = struct.unpack("<H", patched[base : base + 2])[0]
        if tag == 259:
            patched[base + 8 : base + 12] = struct.pack("<I", 7)
    with pytest.raises(NotImplementedError, match="compression 7"):
        decode_tiff_gray(bytes(patched))


def test_tiff_fuzz_never_hangs_or_crashes():
    import struct as _struct

    from hypothesis import given, settings, strategies as st

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_tiff_gray,
        synth_tiff,
    )

    seeds = [synth_tiff(16, 8, 5), synth_tiff(7, 9, 1)]

    @settings(max_examples=120, deadline=None)
    @given(
        st.integers(0, len(seeds) - 1),
        st.binary(max_size=64),
        st.integers(0, 500),
        st.binary(min_size=1, max_size=8),
    )
    def fuzz(which, garbage, cut, patch):
        base = seeds[which]
        for blob in [
            garbage,
            base[:cut],
            base[:cut] + patch + base[cut + len(patch):],
        ]:
            try:
                decode_tiff_gray(bytes(blob))
            except (ValueError, NotImplementedError, _struct.error):
                pass

    fuzz()


# ---------------------------------------------------------------- ICO


def test_ico_round_trip_and_gates():
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_ico,
        synth_ico,
        synth_png,
    )

    members = decode_ico(synth_ico([(16, 8), (8, 16)]))
    assert [(w, h) for w, h, _ in members] == [(16, 8), (8, 16)]
    gsum = 8 * 16 * 15 // 2 + 16 * 8 * 7 // 2
    assert members[0][2] == gsum and members[1][2] == gsum

    with pytest.raises(ValueError):
        decode_ico(b"")
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x02\x00\x01\x00")  # type 2 = .cur
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x01\x00\x00\x00")  # zero members
    # truncated member payload
    good = synth_ico([(4, 4)])
    with pytest.raises(ValueError):
        decode_ico(good[:-3])
    # a patched header leaves an IDAT stream that does not inflate
    two = synth_ico([(16, 8), (8, 16)])
    with pytest.raises(ValueError):
        decode_ico(two[:8] + b"\x00" * 6 + b"!" + two[15:])
    # a non-PNG member hits the honest DIB gate
    blob = bytearray(synth_ico([(4, 4)]))
    png_off = 6 + 16
    blob[png_off : png_off + 8] = b"\x28\x00\x00\x00\x10\x00\x00\x00"
    with pytest.raises(NotImplementedError, match="DIB"):
        decode_ico(bytes(blob))


def test_ico_fuzz_never_hangs_or_crashes():
    import struct as _struct

    from hypothesis import given, settings, strategies as st

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_ico,
        synth_ico,
    )

    seeds = [synth_ico([(16, 8), (8, 16)]), synth_ico([(5, 5)])]

    @settings(max_examples=100, deadline=None)
    @given(
        st.integers(0, len(seeds) - 1),
        st.binary(max_size=64),
        st.integers(0, 400),
        st.binary(min_size=1, max_size=8),
    )
    def fuzz(which, garbage, cut, patch):
        base = seeds[which]
        for blob in [
            garbage,
            base[:cut],
            base[:cut] + patch + base[cut + len(patch):],
        ]:
            try:
                decode_ico(bytes(blob))
            except (ValueError, NotImplementedError, _struct.error):
                pass

    fuzz()
