"""Multimodal binary-column tests: header-parse image decode, demux-level
video/audio decode and frame sampling, feature extraction."""

from __future__ import annotations

import hashlib

import pytest

from oculus_data_pipeline_spark.multimodal.binary_ops import (
    FEATURE_DIM,
    decode_images,
    encode_image_stub,
    extract_image_features,
    make_image_table,
    make_media_table,
    parse_image_header,
)
from oculus_data_pipeline_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    return make_media_table(load_table(spark, sf_dir, "documents")).cache()


def test_media_schema(media):
    kinds = dict(media.dtypes)
    assert kinds["content"] == "binary"
    assert kinds["media_id"] == "bigint"


def test_feature_extraction_deterministic(spark, sf_dir, media):
    feats1 = {r["media_id"]: r for r in extract_image_features(media).collect()}
    feats2 = {
        r["media_id"]: r
        for r in extract_image_features(media.repartition(4, "media_id")).collect()
    }
    docs = {r["doc_id"]: r["text"] for r in load_table(spark, sf_dir, "documents").collect()}
    assert set(feats1) == set(docs)
    for mid, row in feats1.items():
        assert len(row["features"]) == FEATURE_DIM
        assert all(0 <= f < 1 for f in row["features"])
        # matches an independent computation from the text bytes
        assert row["content_sha"] == hashlib.sha256(docs[mid].encode()).hexdigest()[:16]
        assert row["n_bytes"] == len(docs[mid].encode())
        # repartitioning must not change values
        assert feats2[mid]["features"] == row["features"]


def test_parse_image_header_round_trip():
    for fmt in ("png", "gif", "bmp", "jpeg"):
        for w, h in [(1, 1), (16, 16), (2063, 1039), (65535, 1023)]:
            assert parse_image_header(encode_image_stub(w, h, fmt)) == (w, h, fmt)
    assert parse_image_header(b"") is None
    assert parse_image_header(b"not an image") is None
    assert parse_image_header(b"\xff\xd8\xff\xd9") is None  # JPEG without SOF


def test_decode_real_path_unrecognized_quarantined(media):
    # media here carries raw text bytes, not image containers — the
    # real decode must mark every row unparsed, not crash
    rows = decode_images(media).collect()
    assert rows and all(not r["decoded_ok"] for r in rows)
    assert all(r["width"] is None and r["pixel_format"] is None for r in rows)


def test_decode_real_path_parses_real_containers(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    decoded = {
        r["media_id"]: r
        for r in decode_images(make_image_table(docs)).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(decoded) == set(texts)
    fmts = set()
    for mid, text in texts.items():
        n = len(text)
        row = decoded[mid]
        assert row["decoded_ok"]
        assert row["width"] == 16 + n % 2048
        assert row["height"] == 16 + (n * 7) % 1024
        assert row["pixel_format"] == ["png", "gif", "bmp", "jpeg"][n % 4]
        fmts.add(row["pixel_format"])
    assert fmts == {"png", "gif", "bmp", "jpeg"}  # all four branches hit


def test_wav_roundtrip_and_chunk_walk():
    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        encode_wav_stub,
        parse_wav_header,
    )

    for rate, ch, bits, n in [(8000, 1, 8, 100), (44100, 2, 24, 7919)]:
        got = parse_wav_header(encode_wav_stub(rate, ch, bits, n))
        assert got == (rate, ch, bits, n, n * 1000 // rate)
    # chunk walk skips an unknown leading chunk
    import struct

    wav = encode_wav_stub(16000, 1, 16, 50)
    body = b"WAVE" + b"LIST" + struct.pack("<I", 4) + b"INFO" + wav[12:]
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_wav_header(wrapped) == (16000, 1, 16, 50, 3)
    assert parse_wav_header(b"RIFFxxxxNOPE") is None


def test_video_roundtrip_both_containers():
    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        encode_video_stub,
        parse_video_container,
    )

    for container in ("gif", "avi"):
        w, h, nf, cs = 320, 240, 7, 12
        content = encode_video_stub(w, h, nf, cs, container)
        got = parse_video_container(content)
        assert got is not None
        assert got[:5] == (w, h, nf, nf * cs * 10, container)
        slices = got[5]
        assert len(slices) == nf
        # payload spans are real, in-bounds, and distinct per frame
        payloads = [bytes(content[o : o + ln]) for o, ln in slices]
        assert all(payloads)
        assert len(set(payloads)) == nf
    for bad in (b"", b"GIF89a", b"RIFF\x00\x00\x00\x00AVI ", b"\x00" * 64):
        assert parse_video_container(bad) is None
    # truncation (no trailer) must not parse as a valid GIF
    gif = encode_video_stub(16, 16, 2, 4, "gif")
    assert parse_video_container(gif[:-2]) is None


def test_video_decode_and_real_frame_sampling(spark, sf_dir):
    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        decode_videos,
        frame_sample_video,
        make_video_table,
    )
    from oculus_data_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = make_video_table(docs)
    decoded = {r["media_id"]: r for r in decode_videos(media).collect()}
    assert decoded and all(r["decoded_ok"] for r in decoded.values())
    assert {r["container"] for r in decoded.values()} <= {"gif", "avi"}

    frames = frame_sample_video(media, every_ms=500).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == set(decoded)
    for mid, rows in by_media.items():
        d = decoded[mid]
        # one sample per 500 ms of container-declared duration
        assert len(rows) == (d["duration_ms"] + 499) // 500
        for r in sorted(rows, key=lambda r: r["ts_ms"]):
            assert 0 <= r["frame_idx"] < d["n_frames"]
            assert len(r["frame_sha"]) == 16
        # frame_idx is non-decreasing in time and the sha is a pure
        # function of the frame (same frame -> same sha)
        seq = sorted(rows, key=lambda r: r["ts_ms"])
        assert [r["frame_idx"] for r in seq] == sorted(r["frame_idx"] for r in seq)
        sha_by_idx = {}
        for r in seq:
            assert sha_by_idx.setdefault(r["frame_idx"], r["frame_sha"]) == r["frame_sha"]


def test_wav_walk_skips_present_data_payload():
    """A REAL wav carries its sample bytes after the data header; the
    pre-r10 walk skipped 0 bytes for every data chunk and strode
    through the payload reinterpreting samples as chunk headers. The
    payload-present branch now skips size (+RIFF pad) so trailing
    chunks parse; elided-payload stubs still parse (r10 review)."""
    import struct

    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        encode_wav_stub,
        parse_wav_header,
    )

    # build a real wav: stub header + actual payload + a trailing chunk
    stub = encode_wav_stub(8000, 1, 8, 6)  # data_size = 6 bytes
    payload = b"\x01\x02\x03\x04\x05\x06"
    trailing = b"LIST" + struct.pack("<I", 4) + b"INFO"
    real = stub + payload + trailing
    assert parse_wav_header(real) == (8000, 1, 8, 6, 0)
    # elided stub (no payload bytes) still parses identically
    assert parse_wav_header(stub) == (8000, 1, 8, 6, 0)


def test_media_tables_null_text_quarantined(spark):
    """NULL-text docs flow through the stub media builders as empty
    content (decoded_ok False downstream), not an int(NaN) crash."""
    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        decode_audio,
        decode_images,
        decode_videos,
        make_audio_table,
        make_image_table,
        make_video_table,
    )

    docs = spark.createDataFrame(
        [(1, "a real document body"), (2, None)], "doc_id long, text string"
    )
    img = {r["media_id"]: r for r in decode_images(make_image_table(docs)).collect()}
    assert img[1]["decoded_ok"] is True and img[2]["decoded_ok"] is False
    aud = {r["media_id"]: r for r in decode_audio(make_audio_table(docs)).collect()}
    assert aud[1]["decoded_ok"] is True and aud[2]["decoded_ok"] is False
    vid = {r["media_id"]: r for r in decode_videos(make_video_table(docs)).collect()}
    assert vid[1]["decoded_ok"] is True and vid[2]["decoded_ok"] is False


def test_gif_variable_delays_frame_schedule():
    """Real GIFs vary GCE delays frame to frame; the sampler must pick
    the frame on screen at each ts from the CUMULATIVE schedule, not a
    uniform duration/n_frames grid (r10 review). 3 frames showing for
    100/400/100 cs: the uniform assumption (200 cs each) puts frame 1
    on screen at t=2000 ms where the real schedule still shows frame 1
    until 5000 ms."""
    from bisect import bisect_right

    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        encode_video_stub,
        parse_video_container,
    )

    content = encode_video_stub(32, 32, 3, [100, 400, 100], "gif")
    p = parse_video_container(content)
    assert p is not None
    w, h, nf, duration_ms, container, slices, starts = p
    assert (nf, duration_ms, container) == (3, 6000, "gif")
    assert starts == [0, 1000, 5000]  # cumulative, not [0, 2000, 4000]
    # frame on screen: t=1500 -> frame 1; t=4500 -> STILL frame 1
    # (uniform grid would claim frame 2); t=5500 -> frame 2
    for ts, want in ((0, 0), (999, 0), (1500, 1), (4500, 1), (5500, 2)):
        assert bisect_right(starts, ts) - 1 == want


def test_jpeg_fill_bytes_and_eoi():
    """ITU T.81 allows 0xFF fill bytes between marker segments; the
    pre-r10 walk read the byte after the fill as a length field and
    misparsed. EOI without a preceding SOFn has no dimensions (and no
    length field) -> None, not a stride into trailing bytes."""
    from oculus_data_pipeline_spark.multimodal.binary_ops import (
        encode_image_stub,
        parse_image_header,
    )

    good = encode_image_stub(64, 48, "jpeg")
    assert parse_image_header(good) == (64, 48, "jpeg")
    # inject fill padding between SOI and the SOF0 marker
    padded = good[:2] + b"\xff\xff\xff" + good[2:]
    assert parse_image_header(padded) == (64, 48, "jpeg")
    # SOI + EOI + trailing garbage: no dimensions, parse must bail
    assert parse_image_header(b"\xff\xd8\xff\xd9" + b"\x10" * 16) is None
