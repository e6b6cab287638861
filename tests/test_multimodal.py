"""Multimodal binary-column handling: the stdlib BMP/WAV strict decode
chain (encode -> binary column -> mapInPandas decode), its failure modes,
and the Arrow plumbing invariants."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from dynamic_etl_spark.ops.multimodal import (
    BMP_H,
    BMP_W,
    FRAME_SAMPLE_EVERY,
    KIND_BMP,
    KIND_VIDEO,
    KIND_WAV,
    VIDEO_N_FRAMES,
    WAV_N,
    WAV_RATE,
    _bmp_rgb,
    _frame_seed,
    _wav_sample,
    decode_bmp,
    decode_frames,
    decode_wav,
    encode_bmp,
    encode_frames,
    encode_wav,
    extract_media_features,
    header_features,
    strict_decoder,
    synthetic_media,
)


def test_bmp_round_trip_unflips_rows_and_strips_padding():
    # 3x2 -> 9-byte rows padded to 12: both the bottom-up flip and the
    # padding strip are load-bearing for this to hold
    for doc_id in (0, 7, 254, 99991):
        w, h, px = decode_bmp(encode_bmp(doc_id))
        assert (w, h) == (BMP_W, BMP_H)
        assert px == [_bmp_rgb(doc_id, i) for i in range(BMP_W * BMP_H)]


def test_bmp_top_down_negative_height():
    # height < 0 means rows are stored top-down; decoder must not flip
    payload = bytearray(encode_bmp(42))
    # stored bottom-up rows: [row1, row0]; patch height to -2 and swap
    # rows so the logical image is unchanged
    struct.pack_into("<i", payload, 22, -BMP_H)
    row_size = (3 * BMP_W + 3) & ~3
    off = 54
    r0 = bytes(payload[off : off + row_size])
    r1 = bytes(payload[off + row_size : off + 2 * row_size])
    payload[off : off + row_size] = r1
    payload[off + row_size : off + 2 * row_size] = r0
    _, h, px = decode_bmp(bytes(payload))
    assert h == BMP_H
    assert px == [_bmp_rgb(42, i) for i in range(BMP_W * BMP_H)]


def test_wav_round_trip_and_extra_chunk():
    for doc_id in (1, 13, 2001):
        rate, samples = decode_wav(encode_wav(doc_id))
        assert rate == WAV_RATE
        assert samples == [_wav_sample(doc_id, i) for i in range(WAV_N)]
    # an extra (odd-sized, word-padded) chunk before data must be walked over
    wav = encode_wav(13)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    patched = bytearray(wav[:fmt_end] + extra + wav[fmt_end:])
    struct.pack_into("<I", patched, 4, len(patched) - 8)
    rate, samples = decode_wav(bytes(patched))
    assert rate == WAV_RATE
    assert samples == [_wav_sample(13, i) for i in range(WAV_N)]


def test_strict_decoder_features_match_generating_functions():
    f = strict_decoder(encode_bmp(10))
    n = BMP_W * BMP_H
    assert f[0] == KIND_BMP and f[1:3] == [float(BMP_W), float(BMP_H)]
    assert f[3] == sum(_bmp_rgb(10, i)[0] for i in range(n)) / n
    g = strict_decoder(encode_wav(11))
    s = [_wav_sample(11, i) for i in range(WAV_N)]
    assert g[0] == KIND_WAV and g[1] == float(WAV_RATE) and g[2] == float(WAV_N)
    assert g[3] == sum(s) / len(s)
    assert g[4] == float(max(abs(x) for x in s))


def test_strict_decoder_raises_only_for_compressed_or_unknown():
    with pytest.raises(NotImplementedError):
        strict_decoder(b"\xff\xd8\xff\xe0" + b"\x00" * 64)  # JPEG SOI
    with pytest.raises(NotImplementedError):
        strict_decoder(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    # valid BMP container but 8bpp palette — a real gap, must say so
    payload = bytearray(encode_bmp(1 + 1))
    struct.pack_into("<H", payload, 28, 8)
    with pytest.raises(NotImplementedError):
        strict_decoder(bytes(payload))
    with pytest.raises(ValueError):
        decode_bmp(b"XX not a bmp at all, nowhere near")


def test_spark_decode_chain_matches_pure_python(spark):
    docs = spark.range(0, 42).select(F.col("id").alias("doc_id"))
    feats = extract_media_features(synthetic_media(docs), decoder=strict_decoder)
    got = {r["doc_id"]: r for r in feats.collect()}
    assert len(got) == 42
    enc = {0: encode_bmp, 1: encode_wav, 2: encode_frames}
    typ = {0: "image/bmp", 1: "audio/wav", 2: "video/x-raw-frames"}
    for d in range(42):
        raw = enc[d % 3](d)
        assert got[d]["n_bytes"] == len(raw)
        assert got[d]["features"] == strict_decoder(raw)
        assert got[d]["media_type"] == typ[d % 3]


def test_strict_decoder_failure_raises(spark):
    rows = [
        (1, encode_bmp(4), "image/bmp"),
        (2, b"\xff\xd8\xff\xe0 fake jpeg", "image/jpeg"),
        (3, encode_wav(5), "audio/wav"),
        (4, None, "image/bmp"),
    ]
    media = spark.createDataFrame(rows, "doc_id long, media binary, media_type string")
    # a compressed format surfaces the failure instead of silently shrinking
    with pytest.raises(Exception, match="NotImplementedError|compressed"):
        extract_media_features(media, decoder=strict_decoder).collect()


def test_header_features_fallback_unchanged():
    assert header_features(bytes(range(8))) == [b / 255.0 for b in range(8)]
    assert header_features(b"\x05") == [5 / 255.0] + [0.0] * 7


def test_synthetic_media_empty_and_single_row(spark):
    from pyspark.sql import functions as F

    empty = spark.createDataFrame([], "doc_id long")
    assert extract_media_features(synthetic_media(empty), decoder=strict_decoder).count() == 0
    one = spark.createDataFrame([(42,)], "doc_id long")
    rows = extract_media_features(synthetic_media(one), decoder=strict_decoder).collect()
    assert len(rows) == 1 and rows[0]["features"] == strict_decoder(encode_bmp(42))


def test_video_frames_round_trip_and_temporal_sampling():
    for doc_id in (2, 8, 1001):
        frames = decode_frames(encode_frames(doc_id))
        assert len(frames) == VIDEO_N_FRAMES
        for f, (w, h, px) in enumerate(frames):
            assert (w, h) == (BMP_W, BMP_H)
            assert px == [_bmp_rgb(_frame_seed(doc_id, f), i) for i in range(BMP_W * BMP_H)]
        feats = strict_decoder(encode_frames(doc_id))
        assert feats[0] == KIND_VIDEO
        assert feats[1] == float(VIDEO_N_FRAMES)
        assert feats[2] == float(len(range(0, VIDEO_N_FRAMES, FRAME_SAMPLE_EVERY)))
        # features derive ONLY from the sampled frames
        sampled = [
            _bmp_rgb(_frame_seed(doc_id, f), i)
            for f in range(0, VIDEO_N_FRAMES, FRAME_SAMPLE_EVERY)
            for i in range(BMP_W * BMP_H)
        ]
        assert feats[3] == sum(p[0] for p in sampled) / len(sampled)
    with pytest.raises(ValueError):
        decode_frames(b"FRS0" + b"\x01\x00\x00\x00" + b"XX definitely not a frame here")


def test_strict_decoder_numpy_path_equals_python_sums():
    """VERDICT r6 #4: the numpy inner loops must be bit-identical to
    Python-int sums — uint8/int16 sums accumulated in int64 are exact,
    so the single IEEE divide sees the same integers. The expected
    pixels and samples come from the generating functions the encoders
    serialize, not from a decode, so the numpy path is checked against
    an independent reference. Pinned per media kind on the existing
    fixtures."""
    n_px = BMP_W * BMP_H
    for doc_id in (0, 7, 254, 99991):
        px = [_bmp_rgb(doc_id, i) for i in range(n_px)]
        expect = [
            KIND_BMP, float(BMP_W), float(BMP_H),
            sum(p[0] for p in px) / n_px,
            sum(p[1] for p in px) / n_px,
            sum(p[2] for p in px) / n_px,
        ]
        assert strict_decoder(encode_bmp(doc_id)) == expect
    for doc_id in (1, 13, 2001):
        samples = [_wav_sample(doc_id, i) for i in range(WAV_N)]
        expect = [
            KIND_WAV, float(WAV_RATE), float(WAV_N),
            sum(samples) / WAV_N,
            float(max(abs(s) for s in samples)),
            0.0,
        ]
        assert strict_decoder(encode_wav(doc_id)) == expect
    for doc_id in (2, 8, 1001):
        sampled = range(VIDEO_N_FRAMES)[::FRAME_SAMPLE_EVERY]
        px = [_bmp_rgb(_frame_seed(doc_id, f), i) for f in sampled for i in range(n_px)]
        n = float(len(px))
        expect = [
            KIND_VIDEO, float(VIDEO_N_FRAMES), float(len(sampled)),
            sum(p[0] for p in px) / n,
            sum(p[1] for p in px) / n,
            sum(p[2] for p in px) / n,
        ]
        assert strict_decoder(encode_frames(doc_id)) == expect
