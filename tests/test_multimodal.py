"""Multimodal binary-column plumbing tests (codec stubbed per container)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from recommender_system_with_pyspark_spark.operators import multimodal as M


def test_documents_as_media_schema(spark, sf_tiny):
    from recommender_system_with_pyspark_spark.io import load_table

    docs = load_table(spark, sf_tiny, "documents")
    media = M.documents_as_media(docs)
    assert dict(media.dtypes)["media"] == "binary"
    assert "meta" in media.columns
    assert media.count() == docs.count()


def test_extract_byte_features_consistency(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "")], "doc_id long, text string")
    media = M.documents_as_media(df)
    feats = M.extract_byte_features(media, n_bins=4)
    got = {r["media_id"]: r for r in feats.collect()}
    assert got[1]["n_bytes"] == 4
    assert got[2]["n_bytes"] == 0
    assert len(got[1]["histogram"]) == 4
    assert sum(got[1]["histogram"]) == 4
    assert got[1]["byte_entropy"] >= 0.0


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        M.decode_image(b"\x89PNG")


def test_frame_sample(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video/mp4", None, None, 3500))],
        M.MEDIA_SCHEMA,
    )
    out = M.frame_sample(df, every_ms=1000)
    ts = [r["frame_ts_ms"] for r in out.collect()]
    assert ts == [0, 1000, 2000, 3000]


def test_mp3_vbr_roundtrip_all_versions():
    """encode_mp3_vbr_stream → parse_mp3_stream across MPEG-1/2/2.5 with
    ID3v2 + Xing + ID3v1 trailer: versions resolve the right tables
    (bitrate rows, sample rates, 1152-vs-576 samples/frame), the tag skip
    and the trailer stop are exact."""
    specs = [(3, 1, 2), (9, 0, 0), (14, 1, 3)]
    for vbits, sr, spf, table in (
        (0b11, 44100, 1152, M.MP3_BITRATES_KBPS),
        (0b10, 22050, 576, M.MP3_V2_BITRATES_KBPS),
        (0b00, 11025, 576, M.MP3_V2_BITRATES_KBPS),
    ):
        blob = M.encode_mp3_vbr_stream(
            specs, version_bits=vbits, xing_tag="Xing", xing_frames=3,
            id3_size=64, trailer=b"TAG" + bytes(125),
        )
        info = M.parse_mp3_stream(blob)
        assert info["has_id3"] and info["xing_tag"] == "Xing"
        assert info["xing_frames"] == 3
        data = info["frames"][1:]
        assert [f[0] for f in data] == [table[i] for i, _, _ in specs]
        assert all(f[1] == sr and f[3] == spf for f in data)


def test_mp3_stream_garbage_robustness():
    """A 100 TB scan sees every corruption: pure garbage, ID3-only files,
    reserved version bits, free-format frames, truncation mid-frame, and a
    mid-stream sync loss — all must stop cleanly with the frames walked so
    far, never raise."""
    assert M.parse_mp3_stream(b"\x00nonsense" * 50)["frames"] == []
    assert M.parse_mp3_stream(b"")["frames"] == []
    # ID3 header claiming more bytes than exist
    tag_only = b"ID3\x03\x00\x00\x00\x00\x7f\x7f" + bytes(8)
    assert M.parse_mp3_stream(tag_only)["frames"] == []
    # reserved version bits (01) break immediately
    assert M.parse_mp3_stream(bytes((0xFF, 0xEB, 0x92, 0x44)) + bytes(400))["frames"] == []
    # free-format (bitrate index 0) breaks immediately
    assert M.parse_mp3_stream(bytes((0xFF, 0xFB, 0x02, 0x44)) + bytes(400))["frames"] == []
    good = M.encode_mp3_vbr_stream([(9, 0, 0)] * 4)
    # truncation mid-final-frame keeps the complete frames
    assert len(M.parse_mp3_stream(good[: len(good) - 10])["frames"]) == 3
    # mid-stream garbage stops the walk at the boundary
    frames2 = M.encode_mp3_vbr_stream([(9, 0, 0)] * 2)
    assert len(M.parse_mp3_stream(frames2 + b"garbage" * 20)["frames"]) == 2


def test_mp3_vbr_audit_excludes_metadata_frame(spark):
    """The Xing/Info frame is walked but must NOT count as audio: n_frames,
    duration, bitrate stats cover data frames only; the tag's claimed
    count cross-checks against the walk; no-tag streams keep every frame."""
    with_tag = M.encode_mp3_vbr_stream(
        [(5, 0, 0)] * 4, version_bits=0b10, xing_tag="Info", xing_frames=4
    )
    no_tag = M.encode_mp3_vbr_stream([(5, 0, 0)] * 4, version_bits=0b10)
    lying_tag = M.encode_mp3_vbr_stream(
        [(5, 0, 0)] * 4, version_bits=0b10, xing_tag="Xing", xing_frames=99
    )
    df = spark.createDataFrame(
        [(1, with_tag), (2, no_tag), (3, lying_tag), (4, b"junk")],
        "media_id long, media binary",
    )
    got = {r["media_id"]: r for r in M.mp3_vbr_audit(df).collect()}
    assert got[1]["n_frames"] == 4 and got[1]["xing_tag"] == "Info"
    assert got[1]["xing_match"] is True and got[1]["mpeg_version"] == "2"
    assert got[1]["duration_ms"] == round(4 * 576 * 1000.0 / 22050, 3)
    assert got[2]["n_frames"] == 4 and got[2]["xing_tag"] is None
    assert got[2]["xing_match"] is None
    assert got[3]["xing_match"] is False and got[3]["xing_frames"] == 99
    assert got[4]["n_frames"] == 0 and got[4]["duration_ms"] is None


@pytest.mark.parametrize(
    "synth, audit",
    [
        (M.text_to_mp3_media, M.mp3_header_audit),
        (M.text_to_mp3_vbr_media, M.mp3_vbr_audit),
    ],
)
def test_mp3_audits_keep_input_partitioning(spark, synth, audit):
    """The audits never re-spread their input: layout is set where the
    media is read or synthesized, so a 1-partition input stays 1."""
    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(12)], "doc_id long, text string"
    )
    media = synth(docs, n_frames=4).coalesce(1)
    out = audit(media)
    assert out.rdd.getNumPartitions() == 1
    assert out.count() == 12
