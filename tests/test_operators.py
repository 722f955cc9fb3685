"""Operator-level unit tests on tiny in-memory data — the DuckDB
oracle gate (tools/check_oracle.py) is the full-surface check; these
pin the semantics that the gate can't see (plumbing shapes, guards,
library helpers) on inputs small enough to reason about by hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_multimodal_binary_layout(spark):
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        with_binary_content,
    )

    docs = spark.createDataFrame(
        [(0, "abc"), (1, "dé"), (2, "xyzw")], "doc_id long, text string"
    )
    mm = with_binary_content(docs)
    assert dict(mm.dtypes) == {
        "doc_id": "bigint",
        "modality": "string",
        "content": "binary",
        "byte_len": "bigint",
    }
    rows = {r["doc_id"]: r for r in mm.collect()}
    assert rows[0]["modality"] == "image"
    assert rows[1]["modality"] == "audio"
    assert rows[2]["modality"] == "video"
    assert bytes(rows[0]["content"]) == b"abc"
    # é is 2 bytes in utf-8 → byte_len counts bytes, not chars
    assert rows[1]["byte_len"] == 3


def test_decode_image_stub_raises():
    from almost_any_file_to_pandas_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow present: the non-BMP gate does not raise")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def _make_bmp(width: int, height: int, bpp: int = 24) -> bytes:
    """Stdlib-producible BMP fixture — delegates to the engine's own
    synthesizer so the test decodes EXACTLY the bytes
    mm_bmp_decode_census manufactures distributed."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        synth_bmp,
    )

    return synth_bmp(width, height, bpp)


def test_decode_image_real_bmp_roundtrip():
    """The decode arm parses REAL bytes (r6 verdict #5): a hand-built
    uncompressed BMP round-trips through decode_image — bottom-up
    24-bit, top-down (negative height) 32-bit, and 8-bit grayscale —
    and a compressed BMP still routes to the Pillow gate."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_image,
    )

    assert decode_image(_make_bmp(3, 2, 24)) == (3, 2, "RGB")
    assert decode_image(_make_bmp(5, -4, 32)) == (5, 4, "RGBA")
    assert decode_image(_make_bmp(7, 1, 8)) == (7, 1, "L")
    import struct

    rle = bytearray(_make_bmp(3, 2, 8))
    struct.pack_into("<I", rle, 30, 1)  # BI_RLE8 — real arm now
    assert decode_image(bytes(rle)) == (3, 2, "P")
    struct.pack_into("<I", rle, 30, 2)  # BI_RLE4 stays gated
    with pytest.raises(NotImplementedError):
        decode_image(bytes(rle))


def test_decode_wav_real_pcm_roundtrip():
    """The audio decode arm parses REAL bytes: a canonical 16-bit PCM
    WAV round-trips through decode_wav (rate / channels / frames and
    the energy computed from the DECODED samples matches the census
    oracle's closed form); non-PCM codecs route to the honest gate
    and malformed containers raise."""
    import struct

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_wav,
        synth_wav,
    )

    for rate, ch, nf in [(8000, 1, 8), (16000, 2, 136), (8000, 2, 256)]:
        blob = synth_wav(rate, ch, nf)
        assert len(blob) == 44 + nf * ch * 2
        r, c, n, ssq = decode_wav(blob)
        assert (r, c, n) == (rate, ch, nf)
        q, rr = nf // 17, nf % 17
        closed = c * (
            q * 408
            + ((rr - 1) * rr * (2 * rr - 1)) // 6
            - 8 * rr * (rr - 1)
            + 64 * rr
        )
        assert ssq == closed
    # format 3 with 16-bit samples is a malformed float header (the
    # real 32-bit float arm decodes since round 8) — stays gated
    floaty = bytearray(synth_wav(8000, 1, 8))
    struct.pack_into("<H", floaty, 20, 3)  # WAVE_FORMAT_IEEE_FLOAT
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(floaty))


@pytest.mark.parametrize(
    "decoder", ["decode_wav", "decode_wav_ima_adpcm", "decode_wav_ms_adpcm"]
)
def test_wav_decoders_reject_malformed_riff(decoder):
    """Every WAV decoder walks the RIFF chunk list through the same
    walker, so each rejects a non-RIFF blob, a fmt-less shell and a
    fmt declaring 0 channels with the walker's own ValueError."""
    import struct

    from almost_any_file_to_pandas_spark.operators import multimodal

    decode = getattr(multimodal, decoder)
    with pytest.raises(ValueError, match="not a RIFF/WAVE container"):
        decode(b"RIFFxxxxJUNK")
    with pytest.raises(ValueError, match="missing fmt/data chunk"):
        # RIFF/WAVE shell with no fmt/data chunks
        decode(struct.pack("<4sI4s", b"RIFF", 4, b"WAVE"))
    # 0 channels and 0 block align in the decoder's own format, with
    # an extension (1 sample per block, no MS coefficients) that
    # passes both ADPCM geometry checks
    tag, bits = {
        "decode_wav": (1, 16),
        "decode_wav_ima_adpcm": (0x11, 4),
        "decode_wav_ms_adpcm": (2, 4),
    }[decoder]
    fmt = struct.pack("<HHIIHH", tag, 0, 8000, 0, 0, bits)
    with pytest.raises(ValueError, match="0 channels"):
        decode(
            multimodal._wav_wrap(fmt + struct.pack("<HHH", 4, 1, 0), b"\0" * 4)
        )


_WAV_SYNTH_ARGS = {
    "synth_wav": (8000, 2, 24),
    "synth_wav_float": (16000, 1, 16),
    "synth_wav_g711": (2, 8, "alaw"),
    "synth_wav_ima_adpcm": (7, 2, 17),
    "synth_wav_ms_adpcm": (7, 2, 18),
}


@pytest.mark.parametrize("synth", list(_WAV_SYNTH_ARGS))
def test_wav_synths_write_the_riff_size(synth):
    """The RIFF size field counts every byte after itself:
    ``len(blob) - 8``."""
    import struct

    from almost_any_file_to_pandas_spark.operators import multimodal

    blob = getattr(multimodal, synth)(*_WAV_SYNTH_ARGS[synth])
    assert struct.unpack_from("<I", blob, 4)[0] == len(blob) - 8


def _decode_census_names():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    return sorted(n for n in plans.QUERIES if n.endswith("_decode_census"))


@pytest.mark.parametrize("name", _decode_census_names())
def test_decode_census_matches_oracle(gate_compare, name):
    """Every codec census (all on the shared ``decode_census`` kernel)
    matches its arithmetic DuckDB oracle on the sf0.001 corpus."""
    gate_compare("/root/testdata/sf0.001", name)


def _vector_search_names():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    modules = {
        f"almost_any_file_to_pandas_spark.operators.{m}"
        for m in ("similarity", "sq8", "pq", "ivf_kmeans")
    }
    return sorted(
        n
        for n, fn in plans.QUERIES.items()
        if fn.__wrapped__.__module__ in modules and n in plans.ORACLES
    )


@pytest.mark.parametrize("name", _vector_search_names())
def test_vector_search_matches_oracle(gate_compare, name):
    """Every oracle-paired query of the vector-search modules (the
    recall harness, probe ranker and list-balance twins among them)
    matches its DuckDB oracle on the sf0.001 corpus."""
    gate_compare("/root/testdata/sf0.001", name)


def _text_family_names():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    module = "almost_any_file_to_pandas_spark.operators.textstats"
    return sorted(
        n
        for n, fn in plans.QUERIES.items()
        if fn.__wrapped__.__module__ == module and n in plans.ORACLES
    )


@pytest.mark.parametrize("name", _text_family_names())
def test_text_family_matches_oracle(gate_compare, name):
    """Every oracle-paired text-family query (all on the shared
    tokenizer, term-count, repetition, n-gram and lang-ID kernels and
    their DuckDB twins) matches its oracle on the sf0.001 corpus."""
    gate_compare("/root/testdata/sf0.001", name)


def test_pairs_within_buckets_expansion(spark):
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _pairs_within_buckets,
    )

    buckets = spark.createDataFrame(
        [("k1", 3), ("k1", 1), ("k1", 2), ("k2", 1), ("k2", 9), ("k3", 5)],
        "key string, doc_id long",
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _pairs_within_buckets(buckets, "doc_id", ["key"]).collect()
    }
    # k1 → all 3 ordered pairs; k2 → one pair; k3 singleton → none
    assert pairs == {(1, 2), (1, 3), (2, 3), (1, 9)}


def test_pairs_within_buckets_skew_guard(spark):
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _pairs_within_buckets,
    )

    rows = [("hot", i) for i in range(10)] + [("ok", 1), ("ok", 2)]
    buckets = spark.createDataFrame(rows, "key string, doc_id long")
    pairs = _pairs_within_buckets(
        buckets, "doc_id", ["key"], max_bucket=5
    ).collect()
    # the 10-member bucket is dropped entirely; only the ok pair stays
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(1, 2)]


def test_cosine_expr_known_vectors(spark):
    from almost_any_file_to_pandas_spark.operators.similarity import cosine_expr

    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]),
         ([1.0, 0.0], [-1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [
        round(r[0], 9)
        for r in df.select(cosine_expr(F.col("a"), F.col("b"))).collect()
    ]
    assert got == [0.0, 1.0, -1.0]


def test_exact_dedup_keeps_min_doc_id(spark, monkeypatch, tmp_path):
    from almost_any_file_to_pandas_spark.operators import dedup

    docs = spark.createDataFrame(
        [(7, "same text"), (3, "same text"), (5, "other")],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup.dedup_exact(spark, str(tmp_path)).collect()
    kept = {r["keep_doc_id"]: r for r in out}
    assert set(kept) == {3, 5}
    assert kept[3]["n_copies"] == 2


def test_sink_roundtrip_parquet_partitioned(spark, tmp_path):
    from almost_any_file_to_pandas_spark import sinks
    from almost_any_file_to_pandas_spark.parse import parse

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
        "id long, v string, part string",
    )
    out = str(tmp_path / "out.parquet")
    sinks.write(df, out, partition_by=["part"])
    # directory partitioning visible on disk → partition pruning works
    from pathlib import Path

    assert (Path(out) / "part=x").is_dir()
    back = parse(spark, out)[0]
    assert back.ok
    assert back.data.count() == 3


def test_sink_csv_json(spark, tmp_path):
    from almost_any_file_to_pandas_spark import sinks

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    csv_path = sinks.write(df, str(tmp_path / "t.csv"), coalesce=1)
    json_path = sinks.write(df, str(tmp_path / "t.json"), coalesce=1)
    assert spark.read.option("header", True).csv(csv_path).count() == 1
    assert spark.read.json(json_path).count() == 1


def test_connected_components_min_label(spark):
    from almost_any_file_to_pandas_spark.operators.dedup import (
        connected_components,
    )

    # two components: {1,2,3,7} via a path, {10,11}; 99 isolated (no edges)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "u long, v long"
    )
    labels = {
        r["u"]: r["lbl"] for r in connected_components(edges).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    # one 65-node path: diameter 64, far past any fixed round budget
    # of one-hop label propagation
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "u long, v long"
    )
    labels = {
        r["u"]: r["lbl"] for r in connected_components(path).collect()
    }
    assert labels == {i: 0 for i in range(65)}


def test_shingled_matches_declarative_form(spark):
    """_shingle_set (the Python set every Arrow shingle kernel builds)
    and _word_ngrams (declarative JVM form) must produce identical
    distinct shingle sets."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _shingle_set,
        _word_ngrams,
    )

    rows = [
        (1, "a b c d e"),
        (2, "x y"),  # shorter than n=3 → empty
        (3, "p p p p"),  # repeated tokens → duplicate shingles collapse
        (4, "one  two three"),  # double space → empty token preserved
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {d: sorted(_shingle_set(text, 3)) for d, text in rows}
    slow = {
        r["doc_id"]: sorted(r["toks"])
        for r in docs.select(
            "doc_id",
            _word_ngrams(F.split(F.col("text"), " ", -1), 3).alias("toks"),
        ).collect()
    }
    assert fast == slow


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables co-bucketed on the join key must join with zero
    Exchange operators (bucket files are hash-co-located) and, with
    matching sortBy, zero Sort operators above the scans."""
    from almost_any_file_to_pandas_spark import sinks

    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_key"), (F.col("id") % 7).alias("o_val")
    )
    items = spark.range(0, 5000).select(
        (F.col("id") % 1000).alias("i_key"), (F.col("id") % 13).alias("i_val")
    )
    sinks.write_bucketed(orders, "b_orders", tmp_path / "o", ["o_key"], 4, ["o_key"])
    sinks.write_bucketed(items, "b_items", tmp_path / "i", ["i_key"], 4, ["i_key"])
    try:
        joined = (
            spark.table("b_orders")
            .hint("merge")  # force SMJ so broadcast can't mask the layout
            .join(
                spark.table("b_items"),
                F.col("o_key") == F.col("i_key"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located
        assert joined.count() == 5000
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_items")


def test_ivf_score_bucket_tiled_matches_full():
    """Tiling must change memory shape only: a bucket larger than the
    tile size scores identically (bit-for-bit) to one-tile scoring,
    and matches an independent brute-force top-1."""
    import numpy as np
    import pandas as pd

    from almost_any_file_to_pandas_spark.operators.similarity import (
        ivf_score_bucket,
    )

    rng = np.random.default_rng(7)
    n, dim = 300, 16
    mat = rng.standard_normal((n, dim))
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "bucket": np.zeros(n, dtype=np.int64),
            "v": list(mat),
        }
    )
    full = ivf_score_bucket(pdf, tile=n)
    tiled = ivf_score_bucket(pdf, tile=64)
    pd.testing.assert_frame_equal(
        full.reset_index(drop=True), tiled.reset_index(drop=True)
    )
    # independent brute force with the same fold order
    acc = np.zeros((n, n))
    for i in range(dim):
        acc += mat[:, i][:, None] * mat[None, :, i]
    nrm = np.sqrt(np.diag(acc).copy())
    cos = acc / (nrm[:, None] * nrm[None, :])
    ranked = cos.round(6)
    np.fill_diagonal(ranked, -np.inf)
    best = ranked.argmax(axis=1)
    assert (tiled["neighbor_id"].to_numpy() == best).all()
    assert np.array_equal(
        tiled["_cos"].to_numpy(), cos[np.arange(n), best]
    )


def test_ivf_score_bucket_degenerate():
    import numpy as np
    import pandas as pd

    from almost_any_file_to_pandas_spark.operators.similarity import (
        ivf_score_bucket,
    )

    one = pd.DataFrame(
        {"vec_id": [5], "bucket": [0], "v": [np.ones(4)]}
    )
    assert len(ivf_score_bucket(one)) == 0


def test_pq_codes_deterministic_and_bounded(spark):
    """PQ encoding must be reproducible run-to-run (fixed sample, fixed
    init, fixed iterations) — a re-encoded corpus that drifts would
    silently invalidate every stored code at 100 TB."""
    from almost_any_file_to_pandas_spark.operators.pq import (
        PQ_K,
        PQ_M,
        _train_codebooks,
        pq_encode,
    )
    from almost_any_file_to_pandas_spark.plans import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    books = _train_codebooks(emb)
    books2 = _train_codebooks(emb)
    assert (books == books2).all()
    c1 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    c2 = {r.vec_id: list(r.codes) for r in pq_encode(emb, books).collect()}
    assert c1 == c2
    assert all(len(v) == PQ_M for v in c1.values())
    assert all(0 <= c < PQ_K for v in c1.values() for c in v)


def test_pq_reconstruction_beats_mean_baseline(spark):
    """The learned codebooks must reconstruct far better than the
    K=1 'global mean' quantizer — the sanity floor for any VQ."""
    import numpy as np

    from almost_any_file_to_pandas_spark.operators.pq import (
        sim_pq_reconstruction,
    )
    from almost_any_file_to_pandas_spark.plans import table

    sf = "/root/testdata/sf0.001"
    mse = sim_pq_reconstruction(spark, sf).collect()[0]["mean_sq_error"]
    X = np.stack(
        table(spark, sf, "embeddings")
        .select("embedding")
        .toPandas()["embedding"]
        .to_numpy()
    ).astype(np.float64)
    baseline = ((X - X.mean(axis=0)) ** 2).sum(axis=1).mean()
    assert mse < 0.5 * baseline


def test_pq_topk_contract(spark):
    """Same output contract as the other ANN paths: KNN_K rows per
    query, ranks 1..K, no self-matches."""
    from almost_any_file_to_pandas_spark.operators.pq import sim_pq_topk
    from almost_any_file_to_pandas_spark.operators.similarity import (
        KNN_K,
        N_QUERIES,
    )

    rows = sim_pq_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == N_QUERIES * KNN_K
    by_q = {}
    for r in rows:
        assert r.query_id != r.vec_id
        by_q.setdefault(r.query_id, []).append(r.pq_rank)
    assert all(sorted(v) == list(range(1, KNN_K + 1)) for v in by_q.values())


@pytest.fixture()
def tiny_docs_dir(spark, tmp_path):
    """A minimal documents table with hand-reasoned edge cases."""
    rows = [
        # (doc_id, text, lang, source, n_chars)
        (0, "one", "en", "web", 3),  # single word
        (1, " ".join(f"w{i}" for i in range(40)), "en", "web", 0),  # < size
        (2, " ".join(f"x{i}" for i in range(50)), "en", "web", 0),  # == size
        (3, " ".join(f"y{i}" for i in range(91)), "en", "wiki", 0),  # 3 chunks
        (4, "", "en", "wiki", 0),  # empty text
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_chunk_overlap_edges(spark, tiny_docs_dir):
    from almost_any_file_to_pandas_spark.operators.pipeline import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        text_chunk_overlap,
    )

    out = text_chunk_overlap(spark, tiny_docs_dir)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk_tokens))
    # single word, short doc, empty doc → exactly one chunk
    assert by_doc[0] == [(0, 1)]
    assert by_doc[1] == [(0, 40)]
    assert by_doc[4] == [(0, 1)]  # split("") == [""] — one empty token
    # exactly CHUNK_SIZE words: one full chunk + the stride remainder
    assert sorted(by_doc[2]) == [(0, CHUNK_SIZE), (1, CHUNK_SIZE - CHUNK_STRIDE)]
    # 91 words, stride 40: starts at 0, 40, 80 → sizes 50, 50, 11
    assert sorted(by_doc[3]) == [(0, 50), (1, 50), (2, 11)]


def test_pack_sequences_boundary_accounting(spark, tiny_docs_dir):
    from almost_any_file_to_pandas_spark.operators.pipeline import (
        PACK_BUDGET,
        text_pack_sequences,
    )

    rows = {r.doc_id: r for r in text_pack_sequences(spark, tiny_docs_dir).collect()}
    # web shard packs doc 0 (1 tok), 1 (40), 2 (50) in doc_id order
    assert rows[0].start_off == 0 and rows[0].seq_id == 0
    assert rows[1].start_off == 1
    assert rows[2].start_off == 41
    # wiki shard is independent: doc 3 starts at 0 despite web's offsets
    assert rows[3].start_off == 0
    assert rows[4].start_off == 91  # after doc 3's 91 tokens
    # nothing here crosses PACK_BUDGET; all in sequence 0
    assert all(r.seq_id == 0 and not r.crosses_boundary for r in rows.values())
    assert PACK_BUDGET > 92  # guard: the fixture stays below one budget


def test_register_views_sql_surface(spark):
    """spark.sql over the registered views must agree with the
    DataFrame path — the SQL front door to the same engine."""
    from almost_any_file_to_pandas_spark.plans import register_views
    from almost_any_file_to_pandas_spark.plans.relational import (
        q1_pricing_summary,
    )
    from almost_any_file_to_pandas_spark.session import apply_engine_conf

    sf = "/root/testdata/sf0.001"
    apply_engine_conf(spark)
    register_views(spark, sf)
    sql_rows = spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n "
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
        "GROUP BY 1, 2"
    ).collect()
    df_rows = q1_pricing_summary(spark, sf).select(
        "l_returnflag", "l_linestatus", "count_order"
    ).collect()
    assert {(r[0], r[1], r[2]) for r in sql_rows} == {
        (r[0], r[1], r[2]) for r in df_rows
    }
    # events view carries the converted timestamp, not raw nanos
    ts_type = dict(spark.table("events").dtypes)["ts"]
    assert ts_type == "timestamp"


def test_linkage_blocked_fuzzy(spark):
    """Blocked fuzzy linkage: every match obeys the distance cap, the
    join broadcasts the small side, and the block keys keep the
    levenshtein off the unblocked cross product."""
    from almost_any_file_to_pandas_spark.operators.linkage import (
        LINK_MAX_DIST,
        link_customer_supplier_fuzzy,
    )

    df = link_customer_supplier_fuzzy(spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows, "expected at least one blocked fuzzy match"
    assert all(r["name_dist"] <= LINK_MAX_DIST for r in rows)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bloom_no_false_negatives(spark):
    """The Bloom bitset must contain every inserted shingle (false
    negatives impossible by construction) — probed via the same
    position expressions the operator uses."""
    import numpy as np
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.operators.bloom import (
        _positions,
        build_bloom_bits,
    )

    sh = spark.createDataFrame(
        [(i, f"shingle number {i} text") for i in range(200)], "doc_id long, s string"
    )
    bits = build_bloom_bits(sh)
    pos = sh.select(*_positions(F.col("s"))).collect()
    for r in pos:
        for p in r:
            assert (bits[p >> 3] >> (p & 7)) & 1, "false negative"


def test_bloom_contamination_superset(spark):
    from almost_any_file_to_pandas_spark.operators.bloom import (
        text_contamination_bloom,
    )

    row = text_contamination_bloom(spark, "/root/testdata/sf0.001").collect()[0]
    assert row["bloom_superset"] is True


def test_tfidf_topterms_ranked(spark):
    """TF-IDF keeps ≤ TOP terms per doc, ranks descending, and its
    scan prunes unused document columns."""
    from almost_any_file_to_pandas_spark.operators.textstats import (
        TFIDF_TOP,
        text_tfidf_topterms,
    )

    df = text_tfidf_topterms(spark, "/root/testdata/sf0.001")
    pdf = df.toPandas()
    per_doc = pdf.groupby("doc_id")
    assert (per_doc["rnk"].max() <= TFIDF_TOP).all()
    for _, g in per_doc:
        srt = g.sort_values("rnk")
        assert (srt["tfidf_q6"].diff().dropna() <= 0).all()  # non-increasing
    import re

    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all("lang" not in s and "source" not in s for s in schemas)


def test_range_layout_files_disjoint(spark, tmp_path):
    """write_range_layout must produce files whose min/max footer
    statistics are pairwise disjoint on the layout key — the property
    parquet data-skipping relies on."""
    import glob

    import pyarrow.parquet as pq_

    from almost_any_file_to_pandas_spark import sinks
    from almost_any_file_to_pandas_spark.plans import table

    li = table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    out = tmp_path / "li_by_date"
    sinks.write_range_layout(li, out, ["l_shipdate"], n_files=4)

    spans = []
    for f in glob.glob(str(out / "*.parquet")):
        md = pq_.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index("l_shipdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            spans.append((min(mins), max(maxs)))
    assert len(spans) >= 2, "expected multiple range files"
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlap: {(lo1,hi1)} vs {(lo2,hi2)}"


def test_compact_small_files(spark, tmp_path):
    """Compaction must collapse a many-small-files directory into the
    byte-budgeted file count without losing rows."""
    from almost_any_file_to_pandas_spark import sinks
    from almost_any_file_to_pandas_spark.plans import table

    li = table(spark, "/root/testdata/sf0.001", "lineitem")
    src = str(tmp_path / "fragmented")
    li.repartition(16).write.parquet(src)
    n_rows = li.count()

    before, after = sinks.compact(spark, src, str(tmp_path / "compacted"))
    assert before == 16
    assert after < before
    assert spark.read.parquet(str(tmp_path / "compacted")).count() == n_rows


def test_zorder_key_interleaves_bits(spark):
    from almost_any_file_to_pandas_spark.sinks import zorder_key

    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (2, 1)], "x long, y long"
    )
    got = [
        r[0]
        for r in df.select(zorder_key("x", "y", bits=4)).collect()
    ]
    # x bits land on even positions, y bits on odd ones
    assert got == [0b0001, 0b0010, 0b1111, 0b0110]


def test_zorder_layout_bounds_both_dims(spark, tmp_path):
    """Z-order files must each cover a small region of BOTH dimensions;
    a plain x-sort leaves every file spanning the full y domain."""
    import glob

    import pyarrow.parquet as pq_

    from almost_any_file_to_pandas_spark import sinks

    n, dom = 4096, 64
    # the full 64×64 grid: x and y independent
    grid = spark.range(n).selectExpr(
        f"CAST(id % {dom} AS BIGINT) AS x",
        f"CAST((id DIV {dom}) % {dom} AS BIGINT) AS y",
    )

    def spans(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq_.ParquetFile(f).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            st = [md.row_group(i).column(idx).statistics for i in range(md.num_row_groups)]
            out.append(max(s.max for s in st) - min(s.min for s in st))
        return out

    zpath = str(tmp_path / "z")
    sinks.write_zorder(grid, zpath, ["x", "y"], n_files=16, bits=6)
    xpath = str(tmp_path / "xsort")
    sinks.write_range_layout(grid, xpath, ["x"], n_files=16)

    # plain x-sort: y is unclustered — every file spans ~the full domain
    assert min(spans(xpath, "y")) > dom * 0.8
    # z-order: BOTH dims bounded well below the domain in most files
    zx, zy = spans(zpath, "x"), spans(zpath, "y")
    assert sum(zx) / len(zx) < dom * 0.6
    assert sum(zy) / len(zy) < dom * 0.6


def test_cms_heavy_hitters_bounds_hold(spark):
    """CMS guarantees on real data: never undercounts, and the
    eps-bound column is TRUE for every top-K key (the oracle pins the
    same booleans at sf0.01; this runs the probe path at sf0.001)."""
    import __spark_entry__ as entrymod

    rows = entrymod.queries()["events_heavy_hitters_cms"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows and all(r["never_underestimates"] for r in rows)
    assert all(r["within_eps_bound"] for r in rows)


def test_skew_profile_consistency(spark):
    """Internal consistency of the skew summary: n_rows = sum of the
    distribution, max ≥ p99 ≥ p50, skew_ratio = max/avg."""
    import __spark_entry__ as entrymod

    r = entrymod.queries()["events_key_skew_profile"](
        spark, "/root/testdata/sf0.001"
    ).head()
    assert r["max_n"] >= r["p99_n"] >= r["p50_n"] >= 1
    # integer-quantized ratios: skew_ratio_q6 = (max·n_keys·1e6) div n_rows
    assert r["avg_n_q6"] == r["n_rows"] * 1_000_000 // r["n_keys"]
    assert (
        r["skew_ratio_q6"]
        == r["max_n"] * r["n_keys"] * 1_000_000 // r["n_rows"]
    )
    assert r["n_keys"] >= r["n_hot_keys"] >= 0


def test_embedding_hygiene_flags_corrupt_vectors(spark):
    """The hygiene report must count every corruption class it
    claims to detect: NULL vectors, off-modal dimensions, NaN/Inf
    components, zero vectors — and compute norm stats over the clean
    subset only (testdata is clean, so the oracle row can't exercise
    these paths)."""
    from almost_any_file_to_pandas_spark.operators.hygiene import (
        hygiene_report,
    )

    rows = [
        (0, [3.0, 4.0]),            # clean, norm 5
        (1, [0.0, 0.0]),            # zero norm
        (2, None),                  # null vector
        (3, [float("nan"), 1.0]),   # NaN
        (4, [float("inf"), 1.0]),   # Inf
        (5, [1.0, 2.0, 2.0]),       # dim mismatch (modal dim = 2)
        (6, [6.0, 8.0]),            # clean, norm 10
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    r = hygiene_report(emb).head()
    assert r["n_vectors"] == 7
    assert r["n_null"] == 1
    assert r["modal_dim"] == 2
    assert r["n_dim_mismatch"] == 1
    assert r["n_nonfinite"] == 2
    assert r["n_zero_norm"] == 1
    assert r["min_norm_q6"] == 0  # the zero vector is clean
    assert r["max_norm_q6"] == 10_000_000


def test_jl_projection_matrix_properties():
    """The ±1 matrix must be non-degenerate: every row mixes signs,
    rows are pairwise distinct (the first-cut affine-LCG weights
    produced shifted copies of one bit sequence), and row sums stay
    small (balanced bits)."""
    from almost_any_file_to_pandas_spark.operators.projection import (
        PROJ_DIMS,
        SRC_DIMS,
        W,
    )

    assert len(W) == PROJ_DIMS and all(len(r) == SRC_DIMS for r in W)
    assert len(set(W)) == PROJ_DIMS
    for row in W:
        assert {1.0, -1.0} == set(row)
        assert abs(sum(row)) <= SRC_DIMS // 2


def test_jl_distortion_bound_holds(spark):
    """The registered JL contract: all 496 sample-pair distance
    ratios inside the declared band."""
    import __spark_entry__ as entrymod

    r = entrymod.queries()["sim_jl_distortion_bound"](
        spark, "/root/testdata/sf0.001"
    ).head()
    assert r["n_pairs"] == 496
    assert bool(r["within_bound"]) is True
    assert 0.0 < r["min_ratio"] < 1.0 < r["max_ratio"]


def test_span_census_detects_planted_boilerplate(spark):
    """Content-defined sampling is alignment-independent: a 200-char
    boilerplate block planted at DIFFERENT offsets in three docs (a
    fixed-stride sampler would need matching offset residues) must
    surface in the census, and the per-doc profile must rank all
    three carriers. Fixed content → deterministic md5 sampling, so
    this cannot flake."""
    from almost_any_file_to_pandas_spark.operators.spans import (
        _sampled_grams,
    )
    from pyspark.sql import functions as F

    boiler = (
        "subscribe to our newsletter for updates "
        "all rights reserved contact support at example "
        "terms of service apply privacy policy applies "
        "unsubscribe at any time thank you for reading today"
    )
    assert len(boiler) >= 180
    docs = spark.createDataFrame(
        [
            (1, "alpha " * 7 + boiler + " omega"),
            (2, "beta beta " + boiler + " zeta zeta zeta"),
            (3, "x" * 13 + boiler),
            (4, "完全に独立した文書 totally unrelated content here " * 5),
        ],
        "doc_id long, text string",
    )
    sampled = _sampled_grams(docs)
    dup_docs = (
        sampled.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .join(sampled, "gram")
        .select("doc_id")
        .distinct()
    )
    carriers = sorted(r["doc_id"] for r in dup_docs.collect())
    assert carriers == [1, 2, 3]


def test_jsonl_dispatch_distributed_lines(spark, fixture_dir):
    import json as _json

    from almost_any_file_to_pandas_spark.parse import parse

    p = fixture_dir / "rows.jsonl"
    p.write_text(
        "\n".join(_json.dumps({"id": i, "v": f"r{i}"}) for i in range(5))
        + "\n"
    )
    r = parse(spark, p)[0]
    assert r.ok and "lines" in r.engine
    assert r.data.count() == 5


def test_bpe_train_textbook_sequence(spark):
    """The canonical BPE example: corpus 'low low lower'. Iteration
    1 merges (l,o) [count 3, tie with (o,w) broken by pair order],
    iteration 2 merges (lo,w) [3], iteration 3 merges (e,r) vs
    (low,e) [both 1, 'e r' < 'low e']."""
    from almost_any_file_to_pandas_spark.operators.textstats import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "low low lower")], "doc_id long, text string"
    )
    rows = bpe_train(spark, docs, 3).collect()
    got = [(r["iteration"], r["left"], r["right"], r["merged"],
            r["pair_count"]) for r in rows]
    assert got == [
        (1, "l", "o", "lo", 3),
        (2, "lo", "w", "low", 3),
        (3, "e", "r", "er", 1),
    ]


def test_bpe_merge_handles_overlapping_runs(spark):
    """Greedy left-to-right semantics: 'aaaa' under merge (a,a)
    becomes [aa, aa] (leftmost-first, no re-merge within the pass) —
    then iteration 2 merges (aa,aa)."""
    from almost_any_file_to_pandas_spark.operators.textstats import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa")], "doc_id long, text string"
    )
    rows = bpe_train(spark, docs, 2).collect()
    got = [(r["iteration"], r["merged"], r["pair_count"]) for r in rows]
    assert got == [(1, "aa", 6), (2, "aaaa", 2)]


def _bpe_reference(word_counts, iters):
    """Straight-line reference BPE (count-weighted vocab, greedy
    leftmost merge, tie-break count desc then pair asc) to
    cross-check the distributed trainer."""
    vocab = [(list(w), n) for w, n in word_counts.items()]
    merges = []
    for it in range(1, iters + 1):
        pairs = {}
        for syms, n in vocab:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        (left, right), count = min(
            pairs.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}")
        )
        merges.append((it, left, right, left + right, count))
        new_vocab = []
        for syms, n in vocab:
            out = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = left + right
                else:
                    out.append(x)
            new_vocab.append((out, n))
        vocab = new_vocab
    return merges


def test_bpe_train_matches_python_reference(spark):
    """The distributed trainer must reproduce the straight-line
    reference merge-for-merge on three seeded random corpora (words,
    multiplicities, and overlap-prone repeated letters)."""
    import random

    from almost_any_file_to_pandas_spark.operators.textstats import (
        bpe_train,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abcde") for _ in range(rng.randint(2, 6)))
            for _ in range(30)
        ]
        text = " ".join(rng.choice(words) for _ in range(120))
        counts = {}
        for w in text.split(" "):
            counts[w] = counts.get(w, 0) + 1
        expected = _bpe_reference(counts, 4)
        docs = spark.createDataFrame(
            [(1, text)], "doc_id long, text string"
        )
        got = [
            (r["iteration"], r["left"], r["right"], r["merged"],
             r["pair_count"])
            for r in bpe_train(spark, docs, 4).collect()
        ]
        assert got == expected, f"seed {seed}"


def test_gram_moments_match_numpy(spark):
    """The distributed integer-Gram sketch must reproduce numpy's
    covariance, and the power iteration must land on numpy.linalg's
    top eigenvalue/eigenvector (up to sign and quantization)."""
    import numpy as np

    from almost_any_file_to_pandas_spark.operators.linalg import (
        QSCALE,
        SRC_DIMS,
        gram_moments,
        pca_from_gram,
    )

    rng = np.random.RandomState(7)
    # anisotropic cloud: a dominant direction the PCA must find
    base = rng.randn(200, SRC_DIMS) * 0.05
    direction = rng.randn(SRC_DIMS)
    direction /= np.linalg.norm(direction)
    X = base + np.outer(rng.randn(200) * 0.8, direction)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<double>",
    ).repartition(5)

    stats = pca_from_gram(
        r.asDict() for r in gram_moments(emb).collect()
    )
    assert stats["n_vectors"] == 200
    # quantized covariance ≈ exact covariance to ~1/QSCALE
    cov = np.cov(X, rowvar=False, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    tol = 64.0 / QSCALE
    assert abs(stats["lambda1"] - evals[-1]) < max(1e-4, tol)
    v = stats["pc1_loadings"]
    cos = abs(float(np.dot(v, evecs[:, -1])))
    assert cos > 0.999
    # partitioning must not change the integer sums: re-fold with a
    # different layout and demand identical quantized output
    stats2 = pca_from_gram(
        r.asDict()
        for r in gram_moments(emb.repartition(13)).collect()
    )
    assert stats2["lambda1"] == stats["lambda1"]


def test_dimension_profile_flags_dead_dims(spark):
    """A constant coordinate must read back as ~zero variance with
    mean equal to the constant."""
    from almost_any_file_to_pandas_spark.operators import linalg  # noqa: F401
    from almost_any_file_to_pandas_spark.plans import QUERIES

    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for i in range(50):
        v = [float(x) for x in rng.randn(64) * 0.1]
        v[7] = 0.25  # dead dim
        rows.append((i, v))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet("/tmp/linalg_profile/embeddings.parquet")
    out = QUERIES["emb_dimension_profile"](spark, "/tmp/linalg_profile")
    prof = {r["dim_idx"]: r for r in out.collect()}
    assert len(prof) == 64 and prof[7]["var_val"] == pytest.approx(0, abs=1e-6)
    assert prof[7]["mean_val"] == pytest.approx(0.25, abs=1e-6)
    assert prof[3]["var_val"] > 1e-4


def test_pivot_plan_single_aggregate(spark):
    """The declared-values pivot must compile to hash aggregates with
    NO extra distinct-discovery job or join in the plan."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    df = plans.QUERIES["events_pivot_type_by_day"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2  # partial→final agg, no more


def test_pagerank_matches_numpy(spark):
    """Distributed PageRank must agree with a dense numpy power
    iteration on the same symmetrized graph."""
    import numpy as np

    from almost_any_file_to_pandas_spark.operators.graph import (
        PR_DAMP,
        PR_ITERS,
        pagerank,
    )

    edge_list = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2), (4, 0)]
    edges = spark.createDataFrame(edge_list, "u1 long, u2 long")
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}

    n = 5
    A = np.zeros((n, n))
    for a, b in edge_list:
        A[a, b] = 1.0
        A[b, a] = 1.0
    P = A / A.sum(axis=1, keepdims=True)
    r = np.full(n, 1.0 / n)
    for _ in range(PR_ITERS):
        r = (1 - PR_DAMP) / n + PR_DAMP * (P.T @ r)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-9)
    # hub 0 (degree 4) must outrank leaf 4 (degree 1)
    assert got[0] > got[4]


def test_segment_ols_aggregate_matches_apply_in_pandas(spark):
    """The declarative sufficient-statistics OLS and the
    applyInPandas numpy fit must agree on slope/intercept."""
    from almost_any_file_to_pandas_spark.operators.features import (
        segment_ols_apply_in_pandas,
    )
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    sf = "/root/testdata/sf0.001"
    decl = {
        r["c_mktsegment"]: r
        for r in plans.QUERIES["feat_segment_ols_trend"](spark, sf).collect()
    }

    from pyspark.sql import functions as F
    from almost_any_file_to_pandas_spark.plans import table

    orders = table(spark, sf, "orders")
    cust = table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    obs = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment",
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("x"),
        F.col("o_totalprice").cast("double").alias("y"),
    )
    gm = {
        r["c_mktsegment"]: r
        for r in segment_ols_apply_in_pandas(obs).collect()
    }
    assert set(decl) == set(gm)
    for seg in decl:
        assert decl[seg]["n"] == gm[seg]["n"]
        assert decl[seg]["slope_per_day"] == pytest.approx(
            gm[seg]["slope_per_day"], rel=1e-6, abs=1e-9
        )
        assert decl[seg]["intercept"] == pytest.approx(
            gm[seg]["intercept"], rel=1e-6
        )


def test_mmr_rerank_prefers_diversity():
    """Greedy MMR must skip a near-duplicate of the first pick in
    favor of a diverse item with slightly lower relevance."""
    from almost_any_file_to_pandas_spark.operators.retrieval import (
        mmr_rerank,
    )

    a = [1.0, 0.0, 0.0]
    a_dup = [0.999, 0.01, 0.0]  # ~same direction as a
    b = [0.0, 1.0, 0.0]  # orthogonal, slightly less relevant
    cands = [(1, a, 0.99), (2, a_dup, 0.98), (3, b, 0.90)]
    picks = mmr_rerank(cands, 3, 0.5)
    assert [p[0] for p in picks] == [1, 3, 2]
    assert [p[1] for p in picks] == [1, 2, 3]


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """The storage-side claim in sinks.write_bucketed's docstring,
    proven on the physical plan: two tables bucketed by the same key
    into the same bucket count join with NO Exchange on either side
    (bucket co-location replaces the shuffle), while the same join on
    plain parquet needs two."""
    from almost_any_file_to_pandas_spark import sinks

    a = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS vb")
    sinks.write_bucketed(a, "t_bkt_a", str(tmp_path / "a"), ["k"], 8)
    sinks.write_bucketed(b, "t_bkt_b", str(tmp_path / "b"), ["k"], 8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("t_bkt_a").join(
            spark.table("t_bkt_b"), "k"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan

        pa = str(tmp_path / "pa")
        pb = str(tmp_path / "pb")
        a.write.mode("overwrite").parquet(pa)
        b.write.mode("overwrite").parquet(pb)
        flat = spark.read.parquet(pa).join(spark.read.parquet(pb), "k")
        flat_plan = (
            flat._jdf.queryExecution().executedPlan().toString()
        )
        assert flat_plan.count("Exchange") >= 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_ivf_nprobe_recall_curve_monotone(spark):
    """Probe sets nest (nprobe 1 ⊂ 2 ⊂ 4 ⊂ 8), so candidate pools
    nest; with a fixed exact denominator the recall curve must be
    non-decreasing in nprobe, and every point stays in [0, 1e6]."""
    from almost_any_file_to_pandas_spark.operators.similarity import (
        sim_ivf_nprobe_recall_curve,
    )

    rows = sorted(
        sim_ivf_nprobe_recall_curve(
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    assert len({r.n_exact for r in rows}) == 1  # shared denominator
    recalls = [r.recall_q6 for r in rows]
    assert recalls == sorted(recalls)
    assert all(0 <= x <= 1_000_000 for x in recalls)


def test_ivf_kmeans_nprobe_curve_monotone(spark):
    """Learned-quantizer twin of the sign-bit curve test: probe sets
    nest (probe_rank ≤ 1 ⊂ 2 ⊂ 4 ⊂ 8 by construction), so candidate
    pools nest and recall is non-decreasing in nprobe against the
    fixed exact denominator; every point stays in [0, 1e6]. The
    cross-quantizer comparison (k-means ≥ sign-bit — the reason
    k-means lists are the 100 TB recommendation) is a
    DISTRIBUTION-SPECIFIC expectation, not an invariant (r6 ADVICE:
    a reseeded corpus could flake a per-depth pin), so it is checked
    in AGGREGATE across the curve (measured per-depth margins on this
    snapshot: 0.86–0.98 vs 0.20–0.80 — far from the boundary)."""
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        sim_ivf_kmeans_nprobe_curve,
    )
    from almost_any_file_to_pandas_spark.operators.similarity import (
        sim_ivf_nprobe_recall_curve,
    )

    rows = sorted(
        sim_ivf_kmeans_nprobe_curve(
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.nprobe,
    )
    assert [r.nprobe for r in rows] == [1, 2, 4, 8]
    assert len({r.n_exact for r in rows}) == 1  # shared denominator
    recalls = [r.recall_q6 for r in rows]
    assert recalls == sorted(recalls)
    assert all(0 <= x <= 1_000_000 for x in recalls)

    signbit = {
        r.nprobe: r.recall_q6
        for r in sim_ivf_nprobe_recall_curve(
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    # aggregate dominance only — per-depth would pin a data accident
    assert sum(r.recall_q6 for r in rows) >= sum(
        signbit[r.nprobe] for r in rows
    )


def test_lsh_band_curve_candidates_nest(spark):
    """Sharing a 4-hash band implies sharing both its 2-hash halves
    implies sharing all four 1-hash bands: candidate sets NEST as
    bands narrow, so n_candidates, n_true_candidates and recall are
    all non-decreasing from (4×4) to (8×2) to (16×1), n_true_pairs
    is config-independent, and true candidates never exceed either
    side of their ratio."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        dedup_lsh_band_tuning_curve,
    )

    rows = sorted(
        dedup_lsh_band_tuning_curve(
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r.n_bands,
    )
    assert [(r.n_bands, r.rows_per_band) for r in rows] == [
        (4, 4),
        (8, 2),
        (16, 1),
    ]
    assert len({r.n_true_pairs for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates <= b.n_candidates
        assert a.n_true_candidates <= b.n_true_candidates
        assert a.recall_q6 <= b.recall_q6
    for r in rows:
        assert r.n_true_candidates <= r.n_candidates or r.n_candidates == 0
        assert r.n_true_candidates <= r.n_true_pairs


def test_shard_manifest_hand_packing_and_telescoping(spark, tmp_path):
    """Three 3000-byte assets of one modality under a 4096-byte
    budget: prefix sums 0/3000/6000 → shards 0, 0, 1. Shard byte
    sums telescope to the modality total and id ranges are disjoint
    and ordered."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        mm_shard_manifest,
    )

    docs = spark.createDataFrame(
        [(0, "a" * 3000), (3, "b" * 3000), (6, "c" * 3000)],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = sorted(
        mm_shard_manifest(spark, str(tmp_path)).collect(),
        key=lambda r: r.shard_id,
    )
    assert [
        (r.modality, r.shard_id, r.n_assets, r.shard_bytes,
         r.doc_lo, r.doc_hi)
        for r in rows
    ] == [("image", 0, 2, 6000, 0, 3), ("image", 1, 1, 3000, 6, 6)]

    got = mm_shard_manifest(spark, "/root/testdata/sf0.001").collect()
    by_mod: dict = {}
    for r in got:
        by_mod.setdefault(r.modality, []).append(r)
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        with_binary_content,
    )
    from almost_any_file_to_pandas_spark.plans import table

    totals = {
        r.modality: r.total
        for r in with_binary_content(
            table(spark, "/root/testdata/sf0.001", "documents")
        )
        .groupBy("modality")
        .sum("byte_len")
        .withColumnRenamed("sum(byte_len)", "total")
        .collect()
    }
    for mod, shards in by_mod.items():
        shards.sort(key=lambda r: r.shard_id)
        assert sum(r.shard_bytes for r in shards) == totals[mod]
        for a, b in zip(shards, shards[1:]):
            assert a.doc_hi < b.doc_lo


def test_source_token_tvd_hand_case(spark, tmp_path):
    """Two 3-token sources with mirrored (2,1)/(0,3) term counts:
    both sit at exactly TV = 1/3 from the corpus distribution
    (q6 333333), one via present-term mass, one via the absent-term
    coverage identity."""
    from almost_any_file_to_pandas_spark.operators.textstats import (
        text_source_token_tvd,
    )

    docs = spark.createDataFrame(
        [(1, "a a b", "s0"), (2, "b b b", "s1")],
        "doc_id long, text string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in text_source_token_tvd(spark, str(tmp_path)).collect()
    }
    assert got["s0"].n_tokens == 3 and got["s0"].n_distinct_terms == 2
    assert got["s1"].n_tokens == 3 and got["s1"].n_distinct_terms == 1
    assert got["s0"].tvd_q6 == 333_333
    assert got["s1"].tvd_q6 == 333_333


def test_link_prediction_hand_triad(spark, tmp_path):
    """Path graph 1—2—3 (edges forced above the mean-co-count
    threshold by six weak noise pairs): the only wedge is (1, 3)
    through 2, non-adjacent, Jaccard 1/(1+1−1) = 1 → q6 1e6."""
    import datetime

    from pyspark.sql import types as T

    from almost_any_file_to_pandas_spark.operators.graph import (
        graph_jaccard_link_prediction,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = []
    for i in range(20):  # strong pair (1,2): 20 co-active hours
        rows += [(base + i * h, 1), (base + i * h, 2)]
    for i in range(20, 40):  # strong pair (2,3)
        rows += [(base + i * h, 2), (base + i * h, 3)]
    for j, (u, v) in enumerate(
        [(4, 5), (6, 7), (8, 9), (10, 11), (12, 13), (14, 15)]
    ):  # weak noise pairs keep the mean threshold below 20
        rows += [(base + (40 + j) * h, u), (base + (40 + j) * h, v)]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    got = graph_jaccard_link_prediction(spark, str(tmp_path)).collect()
    assert [
        (r.u1, r.u2, r.common_neighbors, r.jacc_q6, r.rnk) for r in got
    ] == [(1, 3, 1, 1_000_000, 1)]


def test_bot_screen_hand_flags(spark, tmp_path):
    """A metronomic single-type burst user trips all three flags
    (bitmask 7, CV² exactly 0); a varied-gap multi-type user trips
    none; a 4-event user is below the evaluability floor."""
    import datetime

    from pyspark.sql import types as T

    from almost_any_file_to_pandas_spark.operators.temporal import (
        events_bot_screen,
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    s = datetime.timedelta(seconds=1)
    rows = []
    # user 100: 10 'view' events exactly 1s apart -> flags 1|2|4 = 7
    for i in range(10):
        rows.append((100 + i, base + i * s, 100, "view"))
    # user 200: 6 events, gaps 1/2/4/8/100 s, spread over types+hours
    offs, t = [0, 1, 3, 7, 15, 115], ["view", "click", "purchase",
                                       "view", "click", "purchase"]
    for i, (o, ty) in enumerate(zip(offs, t)):
        rows.append((200 + i, base + o * s, 200, ty))
    # user 300: 4 events only -> excluded
    for i in range(4):
        rows.append((300 + i, base + i * s, 300, "view"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    got = {
        r.user_id: r
        for r in events_bot_screen(spark, str(tmp_path)).collect()
    }
    assert set(got) == {100, 200}
    assert (
        got[100].n_types,
        got[100].max_hourly,
        got[100].cv2_q6,
        got[100].bot_flags,
    ) == (1, 10, 0, 7)
    # user 200 expected CV² from the same integer formula (ms gaps)
    g = [1000, 2000, 4000, 8000, 100000]
    n1, S, Q = len(g), sum(g), sum(x * x for x in g)
    cv2 = n1 * (n1 * Q - S * S) * 1_000_000 // ((n1 - 1) * S * S)
    assert got[200].cv2_q6 == cv2
    assert cv2 > 250_000  # not metronomic
    assert got[200].bot_flags == 0


def test_cluster_size_histogram_hand_and_telescoping(spark, tmp_path):
    """Texts [x,x,x,y,y,z]: one size-3, one size-2, one size-1
    cluster; docs_share_q6 500000/333333/166666, n_docs telescopes
    to the corpus size. On the real corpus the histogram must agree
    with dedup_exact's own n_copies distribution."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        dedup_cluster_size_histogram,
        dedup_exact,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(["x", "x", "x", "y", "y", "z"])],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.cluster_size: r
        for r in dedup_cluster_size_histogram(
            spark, str(tmp_path)
        ).collect()
    }
    assert {
        k: (v.n_clusters, v.n_docs, v.docs_share_q6)
        for k, v in got.items()
    } == {3: (1, 3, 500_000), 2: (1, 2, 333_333), 1: (1, 1, 166_666)}
    assert sum(r.n_docs for r in got.values()) == 6

    sf = "/root/testdata/sf0.001"
    hist = dedup_cluster_size_histogram(spark, sf).collect()
    from collections import Counter

    want = Counter(
        r.n_copies for r in dedup_exact(spark, sf).collect()
    )
    assert {r.cluster_size: r.n_clusters for r in hist} == dict(want)


def test_dau_mau_stickiness_hand_case(spark, tmp_path):
    """Month 1: days {1,2}×users {1,2},{1} → Σdau 3, 2 days, MAU 2 →
    stickiness 3e6 div 4 = 750000. Month 2: one day, one user → 1e6
    (perfect stickiness)."""
    import datetime

    from pyspark.sql import types as T

    from almost_any_file_to_pandas_spark.operators.temporal import (
        events_dau_mau_stickiness,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    d = datetime.datetime
    rows = [
        (d(2024, 1, 1, 9), 1),
        (d(2024, 1, 1, 10), 1),  # same user+day: one DAU unit
        (d(2024, 1, 1, 11), 2),
        (d(2024, 1, 2, 9), 1),
        (d(2024, 2, 5, 9), 3),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    rows_out = sorted(
        events_dau_mau_stickiness(spark, str(tmp_path)).collect(),
        key=lambda r: r.mon_us,
    )
    jan, feb = rows_out
    assert (jan.n_days, jan.sum_dau, jan.mau) == (2, 3, 2)
    assert jan.stickiness_q6 == 750_000
    assert (feb.n_days, feb.sum_dau, feb.mau) == (1, 1, 1)
    assert feb.stickiness_q6 == 1_000_000
    assert (feb.mon_us - jan.mon_us) == 31 * 86_400_000_000


def test_ivf_bucket_balance_hand_case(spark, tmp_path):
    """Four vectors in three sign-bit buckets (one duplicated):
    shares 500000/250000/250000 and load factors 1.5e6/0.75e6/0.75e6
    against the mean list size of 4/3."""
    from almost_any_file_to_pandas_spark.operators.similarity import (
        sim_ivf_bucket_balance,
    )

    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [-1.0, 1.0, 1.0, 1.0]),
        (3, [1.0, -1.0, -1.0, -1.0]),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = {
        r.bucket: r
        for r in sim_ivf_bucket_balance(spark, str(tmp_path)).collect()
    }
    assert {k: (v.n_vecs, v.share_q6, v.load_factor_q6)
            for k, v in got.items()} == {
        15: (2, 500_000, 1_500_000),
        14: (1, 250_000, 750_000),
        1: (1, 250_000, 750_000),
    }


def test_dataset_card_hand_case_and_consistency(spark, tmp_path):
    """Six docs (one exact dup pair), two langs, two sources: every
    card field derivable on paper; on the real corpus the card must
    agree with dedup_cluster_size_histogram's duplicate mass."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        dedup_cluster_size_histogram,
    )
    from almost_any_file_to_pandas_spark.operators.pipeline import (
        pipeline_dataset_card,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b", "en", "s0"),
            (1, "a b", "en", "s0"),  # exact dup of doc 0
            (2, "c d e", "en", "s1"),
            (3, "f", "de", "s1"),
            (4, "g h", "de", "s0"),
            (5, "i", "en", "s0"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    card = pipeline_dataset_card(spark, str(tmp_path)).collect()
    assert len(card) == 1
    c = card[0]
    assert (c.n_docs, c.n_sources, c.n_langs) == (6, 2, 2)
    assert c.total_tokens == 2 + 2 + 3 + 1 + 2 + 1
    assert c.unique_fingerprints == 5 and c.dup_docs == 1
    assert c.dup_rate_q6 == 1_000_000 // 6
    assert c.mean_doc_tokens_q6 == 11 * 1_000_000 // 6
    assert (c.top_lang, c.top_lang_share_q6) == ("en", 666_666)

    sf = "/root/testdata/sf0.001"
    card = pipeline_dataset_card(spark, sf).collect()[0]
    hist = dedup_cluster_size_histogram(spark, sf).collect()
    assert card.n_docs == sum(r.n_docs for r in hist)
    assert card.unique_fingerprints == sum(r.n_clusters for r in hist)
    assert card.dup_docs == sum(
        (r.cluster_size - 1) * r.n_clusters for r in hist
    )


def test_resource_allocation_hand_star(spark, tmp_path):
    """Star 1—2—3 plus a high-degree hub 4 connected to 5,6,7 and to
    1 and 3. Pair (2,4) shares the two degree-2 neighbors 1 and 3 →
    RA = 2·(1e6 div 2) = 1e6, rank 1; pair (1,3) shares user 2
    (degree 2) and hub 4 (degree 5) → 500000 + 200000 = 700000,
    rank 2; every remaining wedge pair is hub-mediated only and
    scores 1e6 div 5 = 200000 — the degree weighting demotes
    hub-mediated pairs exactly as the index intends."""
    import datetime

    from pyspark.sql import types as T

    from almost_any_file_to_pandas_spark.operators.graph import (
        graph_resource_allocation_links,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1)
    h = datetime.timedelta(hours=1)
    rows = []
    hour = 0

    def coactive(u, v, n):
        nonlocal hour
        for _ in range(n):
            rows.append((base + hour * h, u))
            rows.append((base + hour * h, v))
            hour += 1

    # strong pairs (edges): 1-2, 2-3, 4-1, 4-3, 4-5, 4-6, 4-7
    for u, v in [(1, 2), (2, 3), (4, 1), (4, 3),
                 (4, 5), (4, 6), (4, 7)]:
        coactive(u, v, 30)
    # weak noise pairs keep the 2x-mean threshold below 30
    for u, v in [(8, 9), (10, 11), (12, 13), (14, 15), (16, 17),
                 (18, 19), (20, 21), (22, 23), (24, 25), (26, 27),
                 (28, 29), (30, 31), (32, 33), (34, 35)]:
        coactive(u, v, 1)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    got = {
        (r.u1, r.u2): r
        for r in graph_resource_allocation_links(
            spark, str(tmp_path)
        ).collect()
    }
    r24 = got[(2, 4)]
    assert (r24.common_neighbors, r24.ra_q6, r24.rnk) == (2, 1_000_000, 1)
    r13 = got[(1, 3)]
    assert (r13.common_neighbors, r13.ra_q6, r13.rnk) == (2, 700_000, 2)
    # every remaining wedge pair is hub-mediated: exactly 1e6 div 5
    hub_pairs = [k for k in got if k not in ((1, 3), (2, 4))]
    assert hub_pairs and all(
        got[k].ra_q6 == 200_000 and got[k].common_neighbors == 1
        for k in hub_pairs
    )


def test_minhash_calibration_hand_pair(spark, tmp_path):
    """Two 5-token docs sharing 2 of 4 distinct 3-gram shingles:
    exact Jaccard exactly 0.5 (q6 500000); the estimate is recomputed
    independently in pure Python over the same md5 lanes (min of
    substr(md5('s:'||g), 8k+1, 8) per seed s, lane k) and must agree
    with the operator's mean_est_q6 for the single pair."""
    import hashlib

    from almost_any_file_to_pandas_spark.operators.dedup import (
        LSH_CURVE_HASHES,
        dedup_minhash_estimate_calibration,
    )

    t1, t2 = "a b c d e", "a b c d f"
    docs = spark.createDataFrame(
        [(1, t1), (2, t2)], "doc_id long, text string"
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    def sig(t):
        out = []
        for s in range(LSH_CURVE_HASHES):
            seed, lane = s // 4, s % 4
            out.append(
                min(
                    hashlib.md5(f"{seed}:{g}".encode()).hexdigest()[
                        8 * lane : 8 * lane + 8
                    ]
                    for g in shingles(t)
                )
            )
        return out
    matches = sum(a == b for a, b in zip(sig(t1), sig(t2)))
    want_est = matches * 1_000_000 // LSH_CURVE_HASHES

    got = dedup_minhash_estimate_calibration(
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.jaccard_decile, r.n_pairs, r.mean_exact_q6) == (
        5,
        1,
        500_000,
    )
    assert r.mean_est_q6 == want_est
    assert r.mean_abs_err_q6 == abs(want_est - 500_000)


def test_integrity_audit_detects_seeded_violations(spark, tmp_path):
    """Seed one duplicate order key, one NULL custkey, one orphan
    order, and one orphan lineitem: the audit counts each exactly
    once; on the pristine corpus every violation column is zero."""
    from almost_any_file_to_pandas_spark.plans.relational import (
        star_referential_integrity_audit,
    )

    spark.createDataFrame(
        [(1,), (2,)], "c_custkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "customer.parquet")
    )
    spark.createDataFrame(
        [(10, 1), (10, 2), (11, None), (12, 99)],
        "o_orderkey long, o_custkey long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(
        [(10,), (10,), (77,)], "l_orderkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    r = star_referential_integrity_audit(spark, str(tmp_path)).collect()[0]
    assert (r.n_orders, r.n_distinct_orderkeys, r.n_dup_orderkeys) == (
        4, 3, 1,
    )
    assert (r.n_null_orderkeys, r.n_null_custkeys) == (0, 1)
    assert r.n_orphan_orders == 1  # custkey 99
    assert (r.n_lineitems, r.n_orphan_lineitems) == (3, 1)  # key 77

    clean = star_referential_integrity_audit(
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert clean.n_dup_orderkeys == 0
    assert clean.n_orphan_orders == 0
    assert clean.n_orphan_lineitems == 0


def test_label_margin_audit_hand_case(spark, tmp_path):
    """Two tight clusters on orthogonal axes plus one mislabeled
    vector: the mislabeled one is the only negative margin, and
    every margin is derivable from the two centroids on paper."""
    from almost_any_file_to_pandas_spark.operators.similarity import (
        emb_label_margin_audit,
    )

    vecs = [
        (0, [1.0, 0.0], 0),
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 1),
        (3, [0.0, 1.0], 1),
        (4, [1.0, 0.0], 1),  # mislabeled: sits on label-0's axis
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = {
        r.label: r
        for r in emb_label_margin_audit(spark, str(tmp_path)).collect()
    }
    # centroids: label0 = (1,0); label1 = (1/3, 2/3)
    # label-0 vectors: own cos 1.0; other cos = cos((1,0),(1,2)/3)
    #   = 1/sqrt(5) ~ 0.447214 -> margin ~ +552786 each
    assert got[0].n_vecs == 2 and got[0].n_misassigned == 0
    assert abs(got[0].mean_margin_q6 - 552_786) <= 1
    # label-1: vectors 2,3 own cos((0,1),c1)=2/sqrt(5) ~ .894427,
    # other 0 -> +894427; vector 4 own cos((1,0),c1)=1/sqrt(5)
    # ~ .447214, other 1.0 -> -552786 (the only negative margin)
    assert got[1].n_vecs == 3 and got[1].n_misassigned == 1
    want_mean = (894_427 * 2 - 552_786) // 3
    assert abs(got[1].mean_margin_q6 - want_mean) <= 1


def test_dataset_card_null_text_and_source(spark, tmp_path):
    """The review-found divergence, pinned: a NULL text fingerprints
    as its own cluster and a NULL source counts as a distinct source
    on BOTH engines (Spark distinct() semantics; the oracle uses a
    DISTINCT subquery instead of NULL-dropping COUNT(DISTINCT)), and
    the card stays consistent with the cluster-size histogram."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        dedup_cluster_size_histogram,
    )
    from almost_any_file_to_pandas_spark.operators.pipeline import (
        pipeline_dataset_card,
    )

    docs = spark.createDataFrame(
        [
            (0, "a b", "en", "s0"),
            (1, None, "en", None),
            (2, "c", "de", "s1"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    c = pipeline_dataset_card(spark, str(tmp_path)).collect()[0]
    assert c.n_docs == 3
    assert c.n_sources == 3  # s0, s1, NULL
    assert c.unique_fingerprints == 3  # 'a b', 'c', NULL
    assert c.dup_docs == 0 and c.dup_rate_q6 == 0
    hist = dedup_cluster_size_histogram(spark, str(tmp_path)).collect()
    assert c.unique_fingerprints == sum(r.n_clusters for r in hist)


def test_sq8_reconstruction_error_bound(spark):
    """Hand-fixture contract for the SQ8 kernel: reconstruction error
    per dimension is at most half a quantization step (the round-to-
    nearest guarantee), range endpoints reconstruct exactly, and a
    constant dimension (hi == lo) reconstructs exactly despite the
    guarded division."""
    from almost_any_file_to_pandas_spark.operators.sq8 import _sq8_recon
    from pyspark.sql import functions as F

    lo, hi = -0.5, 1.5
    vals = [lo, hi, 0.0, 0.123456, 1.499999, -0.499999, 0.7]
    df = spark.createDataFrame(
        [([float(v) for v in vals], )], "v array<double>"
    ).withColumn(
        "lh",
        F.expr(
            "transform(v, x -> named_struct('lo', CAST(-0.5 AS DOUBLE),"
            " 'hi', CAST(1.5 AS DOUBLE)))"
        ),
    )
    rec = df.select(_sq8_recon(F.col("v"), F.col("lh")).alias("r")).first()[
        "r"
    ]
    step = (hi - lo) / 255.0
    for x, r in zip(vals, rec):
        assert abs(x - r) <= step / 2 + 1e-12, (x, r)
    assert rec[0] == lo and rec[1] == hi  # endpoints exact

    const = spark.createDataFrame(
        [([0.25, 0.25],)], "v array<double>"
    ).withColumn(
        "lh",
        F.expr(
            "transform(v, x -> named_struct('lo', CAST(0.25 AS DOUBLE),"
            " 'hi', CAST(0.25 AS DOUBLE)))"
        ),
    )
    crec = const.select(
        _sq8_recon(F.col("v"), F.col("lh")).alias("r")
    ).first()["r"]
    assert crec == [0.25, 0.25]


def test_kmeans_lloyd_objective_non_increasing(spark):
    """Lloyd's invariant on the deterministic trainer: the total
    integer-q12 within-cluster distance is non-increasing round over
    round (each assignment and each mean step can only lower it —
    the convergence argument), checked on sf0.001 for 1 vs 2 rounds."""
    import almost_any_file_to_pandas_spark.operators.ivf_kmeans as km
    from pyspark.sql import functions as F

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )

    def objective(cents):
        crow = cents.agg(
            F.collect_list(F.struct("cid", "cvec")).alias("cs")
        )
        return (
            emb.crossJoin(F.broadcast(crow))
            .select(
                F.array_min(
                    F.transform(
                        F.col("cs"),
                        lambda c: km._sqdist_q12(F.col("v"), c["cvec"]),
                    )
                ).alias("d")
            )
            .agg(F.sum("d"))
            .first()[0]
        )

    orig_rounds = km.LLOYD_ROUNDS
    try:
        km.LLOYD_ROUNDS = 1
        obj1 = objective(
            km.deterministic_kmeans_centroids(spark, emb, 16)
        )
        km.LLOYD_ROUNDS = 2
        obj2 = objective(
            km.deterministic_kmeans_centroids(spark, emb, 16)
        )
    finally:
        km.LLOYD_ROUNDS = orig_rounds
    assert obj2 <= obj1


def test_watermark_lateness_banded_prefix_equals_sequential(spark):
    """Property: the banded two-level prefix max inside
    events_watermark_tradeoff_curve must reproduce the sequential
    global running max for ANY arrival sequence — checked by writing
    random event streams to parquet and comparing drop counts per
    delay against a pure-Python replay."""
    from hypothesis import given, settings, strategies as st
    from almost_any_file_to_pandas_spark.operators.temporal import (
        WATERMARK_DELAYS_US,
        events_watermark_tradeoff_curve,
    )
    import datetime as dt
    import tempfile

    base = dt.datetime(2024, 1, 1)

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=3_600_000_000),
            min_size=1,
            max_size=40,
        )
    )
    def run(offsets_us):
        # stride the ids so the sequence CROSSES prefix-max bands
        # (shiftright 12 = 4096 ids/band): 40 events span ~15 bands,
        # including empty bands between occupied ones
        rows = [
            (
                i * 1531,
                base + dt.timedelta(microseconds=off),
                i % 3,
                "view",
                1.0,
                "{}",
            )
            for i, off in enumerate(offsets_us)
        ]
        with tempfile.TemporaryDirectory() as d:
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long,"
                " event_type string, value double, props string",
            ).write.mode("overwrite").parquet(f"{d}/events.parquet")
            got = {
                r["delay_us"]: r["n_dropped"]
                for r in events_watermark_tradeoff_curve(spark, d).collect()
            }
        # sequential replay
        expect = {dly: 0 for dly in WATERMARK_DELAYS_US}
        running = None
        for off in offsets_us:
            if running is not None:
                late = max(running - off, 0)
                for dly in WATERMARK_DELAYS_US:
                    if late > dly:
                        expect[dly] += 1
            running = off if running is None else max(running, off)
        assert got == expect

    run()


def test_session_gap_curve_hand_fixture(spark, tmp_path):
    """Hand-built arrival sequence with known sessionization at every
    swept gap: one user with events at minutes 0, 5, 45, 120.
    gap=10min -> sessions {0,5} {45} {120} = 3 (2 singletons);
    gap=30min -> same 3 (gap 40min and 75min both exceed 30);
    gap=60min -> {0,5,45} {120} = 2 sessions (1 singleton)."""
    import datetime as dt
    from almost_any_file_to_pandas_spark.operators.temporal import (
        events_session_gap_curve,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(minutes=m), 1, "view", 1.0, "{}")
        for i, m in enumerate([0, 5, 45, 120])
    ]
    d = str(tmp_path / "fixture")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long,"
        " event_type string, value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["gap_minutes"]: (r["n_sessions"], r["n_singleton_sessions"])
        for r in events_session_gap_curve(spark, d).collect()
    }
    assert got == {10: (3, 2), 30: (3, 2), 60: (2, 1)}


def test_quality_threshold_curve_hand_fixture(spark, tmp_path):
    """Two documents with exactly known duplicate-word ratios: doc 1
    'a b c d' (ratio 0), doc 2 'a a a a a' (ratio 800000). Thresholds
    100k-500k keep only doc 1; token accounting follows."""
    from almost_any_file_to_pandas_spark.operators.quality import (
        text_quality_threshold_curve,
    )

    d = str(tmp_path / "fixture")
    spark.createDataFrame(
        [(1, "a b c d", "en", "s1", 7), (2, "a a a a a", "en", "s2", 9)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {
        r["threshold_q6"]: (
            r["n_docs_kept"],
            r["n_words_kept"],
            r["docs_share_q6"],
            r["words_share_q6"],
        )
        for r in text_quality_threshold_curve(spark, d).collect()
    }
    for t in (100_000, 200_000, 300_000, 400_000, 500_000):
        assert rows[t] == (1, 4, 500_000, 444_444)


def test_phrase_index_token_aligned_vs_scan_convention(spark, tmp_path):
    """Pins the DOCUMENTED convention split between the two phrase
    rows: the positional index counts token-aligned starts (adjacent
    repeats each count), the scan twin's padded replace-arithmetic
    collapses adjacent repeats sharing a boundary space. On text with
    no adjacent repeats the two agree exactly."""
    from almost_any_file_to_pandas_spark.operators.retrieval import (
        retrieval_phrase_index_topk,
        retrieval_phrase_match_topk,
    )

    rows = [
        # adjacent repeat: index counts 2, scan collapses to 1
        (1, "table value table value", "en", "web", 0),
        # separated repeats: both count 2
        (2, "table value x table value", "en", "web", 0),
        # no match (order reversed)
        (3, "value table", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    idx = {
        r["doc_id"]: r["n_matches"]
        for r in retrieval_phrase_index_topk(spark, sf).collect()
    }
    scan = {
        r["doc_id"]: r["n_matches"]
        for r in retrieval_phrase_match_topk(spark, sf).collect()
    }
    assert idx == {1: 2, 2: 2}
    assert scan == {1: 1, 2: 2}


def test_shapley_efficiency_identity(spark):
    """Shapley axioms on the real corpus: every channel's credit is
    ≥ 0 (v is a monotone subset-sum) and the credits sum to
    v(full) − v(∅) (efficiency) — checked in exact pre-division
    integers: Σ shapley_q6 = (v_full − v_empty)·1e6 within n·1
    integer-division slack."""
    from almost_any_file_to_pandas_spark.operators.funnel import (
        events_attribution_shapley,
    )
    from almost_any_file_to_pandas_spark.plans import table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = events_attribution_shapley(spark, sf).collect()
    assert rows, "channel domain is non-empty on sf0.001"
    assert all(r["shapley_q6"] >= 0 for r in rows)
    ev = table(spark, sf, "events")
    # v(full) = converting users (every presence set ⊆ full set);
    # v(empty) = converting users with NO pre-purchase channel touch
    purch = ev.filter(F.col("event_type") == "purchase")
    fp = purch.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id")).alias("fp")
    )
    pre = (
        ev.join(fp, "user_id")
        .filter(
            (F.col("event_type") != "purchase")
            & (F.struct("ts", "event_id") < F.col("fp"))
        )
        .select("user_id")
        .distinct()
    )
    v_full = fp.count()
    v_empty = v_full - pre.count()
    total = sum(r["shapley_q6"] for r in rows)
    target = (v_full - v_empty) * 1_000_000
    # each φ_i loses < 1 micro-unit to integer division
    assert target - len(rows) <= total <= target


def test_decode_png_real_roundtrip_all_filters():
    """The PNG arm decodes REAL compressed bytes: synth gradient PNGs
    round-trip (dims + exact pixel sum) through zlib inflate +
    de-filter; hand-encoded Sub/Up/Average/Paeth scanlines reconstruct
    the identical pixels; 16-bit depth routes to the Pillow gate and
    a corrupted chunk fails CRC."""
    import struct
    import zlib

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        PNG_SIGNATURE,
        decode_image,
        decode_png,
        synth_png,
    )

    for w, h in [(1, 1), (3, 2), (16, 8)]:
        blob = synth_png(w, h)
        dw, dh, px = decode_png(blob)
        assert (dw, dh) == (w, h)
        assert sum(px) == h * w * (w - 1) // 2 + w * h * (h - 1) // 2
        assert decode_image(blob) == (w, h, "L")

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    w, h = 5, 4
    pix = [[(x + y) % 256 for x in range(w)] for y in range(h)]
    for f in (1, 2, 3, 4):
        rows, prev = b"", [0] * w
        for y in range(h):
            line = bytearray([f])
            for x in range(w):
                a = pix[y][x - 1] if x else 0
                b = prev[x]
                c = prev[x - 1] if x else 0
                if f == 1:
                    add = a
                elif f == 2:
                    add = b
                elif f == 3:
                    add = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    add = (
                        a
                        if pa <= pb and pa <= pc
                        else (b if pb <= pc else c)
                    )
                line.append((pix[y][x] - add) & 0xFF)
            rows += bytes(line)
            prev = pix[y]
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        blob = (
            PNG_SIGNATURE
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(rows))
            + chunk(b"IEND", b"")
        )
        _, _, px = decode_png(blob)
        assert list(px) == [v for row in pix for v in row], f"filter {f}"

    # the ENTIRE legal IHDR matrix decodes for real since round 8 —
    # an unsupported header is an ILLEGAL header, rejected loudly
    # (the full illegal-combo matrix is pinned in test_round8.py)
    ihdr_bad = struct.pack(">IIBBBBB", 2, 2, 4, 2, 0, 0, 0)
    with pytest.raises(ValueError, match="legal"):
        decode_png(
            PNG_SIGNATURE + chunk(b"IHDR", ihdr_bad) + chunk(b"IEND", b"")
        )
    bad = bytearray(synth_png(3, 2))
    bad[20] ^= 0xFF
    with pytest.raises(ValueError):
        decode_png(bytes(bad))


def test_unimax_waterfill_hand_allocation(spark, tmp_path):
    """Sources with 10/20/70 tokens under budget total div 2 = 50:
    the sorted-prefix level solve caps the big source at level 20 —
    allocations 10/20/20 (Σ=50 exactly), shares 1e6/1e6/285714."""
    from almost_any_file_to_pandas_spark.operators.pipeline import (
        pipeline_unimax_waterfill_mix,
    )

    docs = spark.createDataFrame(
        [
            (1, " ".join(["w"] * 10), "s0"),
            (2, " ".join(["w"] * 20), "s1"),
            (3, " ".join(["w"] * 70), "s2"),
        ],
        "doc_id long, text string, source string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in pipeline_unimax_waterfill_mix(
            spark, str(tmp_path)
        ).collect()
    }
    assert (got["s0"].n_tokens, got["s0"].alloc_tokens) == (10, 10)
    assert (got["s1"].n_tokens, got["s1"].alloc_tokens) == (20, 20)
    assert (got["s2"].n_tokens, got["s2"].alloc_tokens) == (70, 20)
    assert got["s2"].share_q6 == 285_714
    assert sum(r.alloc_tokens for r in got.values()) == 50


def test_zonemap_advisor_hand_bands(spark, tmp_path):
    """Two orderkey bands — one all-1994/low-qty/zero-discount, one
    all-1995/high-qty/5%-discount: each predicate matches exactly the
    second band, zone maps skip exactly the first, and the sorted
    layout's analytic skip is 0 full groups at this tiny size."""
    import datetime as dt

    from almost_any_file_to_pandas_spark.operators.pipeline import (
        lineitem_zonemap_advisor,
    )

    rows = [
        (1, 1, 10.0, 0.0, dt.datetime(1994, 5, 1)),
        (2, 1, 10.0, 0.0, dt.datetime(1994, 6, 1)),
        (3000, 1, 50.0, 0.05, dt.datetime(1995, 6, 1)),
        (3001, 1, 50.0, 0.05, dt.datetime(1995, 7, 1)),
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_quantity double, "
        "l_discount double, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        r.predicate: r
        for r in lineitem_zonemap_advisor(spark, str(tmp_path)).collect()
    }
    ship = got["shipdate_year_1995"]
    assert (ship.n_match, ship.groups_natural, ship.skip_natural) == (
        2, 2, 1,
    )
    assert (ship.groups_sorted, ship.skip_sorted) == (1, 0)
    qty = got["quantity_ge_45"]
    assert (qty.n_match, qty.skip_natural) == (2, 1)
    disc = got["discount_eq_005"]
    assert (disc.n_match, disc.skip_natural) == (2, 1)
    assert ship.skip_natural_q6 == 500_000


def test_cep_pattern_hand_sequences(spark, tmp_path):
    """Three users: v→c→p (strict+loose), v→e→c→p (loose only — the
    error breaks the strict pattern), c→p (neither)."""
    import datetime as dt

    from almost_any_file_to_pandas_spark.operators.funnel import (
        events_cep_pattern_census,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    seqs = {
        1: ["view", "click", "purchase"],
        2: ["view", "error", "click", "purchase"],
        3: ["click", "purchase"],
    }
    eid = 0
    for uid, seq in seqs.items():
        for i, et in enumerate(seq):
            rows.append(
                (eid, t0 + dt.timedelta(minutes=i), uid, et, 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        (r.strict_hit, r.loose_hit): r.n_users
        for r in events_cep_pattern_census(spark, str(tmp_path)).collect()
    }
    assert got == {(1, 1): 1, (0, 1): 1, (0, 0): 1}


def test_backlog_replay_hand_lindley(spark, tmp_path):
    """3 orders, a gap day, then 3 more: K = ceil(6/3) = 2 and the
    Lindley walk gives backlogs 1/0/1 — monthly census pins
    arrivals 6, shipped 5, peak 1, two backlogged days, end 1."""
    import datetime as dt

    from almost_any_file_to_pandas_spark.operators.temporal import (
        orders_capacity_backlog_replay,
    )

    rows = []
    for i in range(3):
        rows.append((i, 1, dt.datetime(2024, 3, 1), 10.0))
    for i in range(3):
        rows.append((10 + i, 1, dt.datetime(2024, 3, 3), 10.0))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate timestamp, "
        "o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    rows = orders_capacity_backlog_replay(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.ym, r.arrivals, r.shipped) == (202403, 6, 5)
    assert (r.max_backlog, r.days_backlogged, r.end_backlog) == (1, 2, 1)


def test_watermark_state_advisor_hand_horizons(spark, tmp_path):
    """Two events 40 minutes apart: a 10-minute horizon never buffers
    both (peak 1); 60- and 360-minute horizons do (peak 2)."""
    import datetime as dt

    from almost_any_file_to_pandas_spark.operators.temporal import (
        events_watermark_state_advisor,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [
            (1, t0, 1, "view", 1.0),
            (2, t0 + dt.timedelta(minutes=40), 1, "click", 1.0),
        ],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        r.horizon_minutes: r.peak_buffered_rows
        for r in events_watermark_state_advisor(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {10: 1, 60: 2, 360: 2}
