"""Multimodal binary-column operators (operators/multimodal.py).

The decode kernels are deterministic fakes (no codec libs in the
container); these tests pin the REAL parts — schema, Arrow plumbing,
byte math, frame-sampling fan-out — and the stub contract.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from crawler_apple_podcast_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [
            (0, "a" * 48, "en", "s", 48),
            (1, "b" * 100, "en", "s", 100),
            (2, "c" * 300, "en", "s", 300),   # video kind, 4 frames of 64
            (5, "hello world " * 12, "en", "s", 144),  # video kind
            (3, "short text here padded out to fortyeight", "en", "s", 41),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    return MM.synth_media(docs)


def test_synth_media_schema_and_kinds(media):
    assert set(media.columns) == {
        "media_id", "kind", "mime", "blob", "declared_w", "declared_h", "sample_rate"
    }
    rows = {r["media_id"]: r for r in media.collect()}
    assert rows[0]["kind"] == "image" and rows[1]["kind"] == "audio"
    assert rows[2]["kind"] == "video" and rows[5]["kind"] == "video"
    assert bytes(rows[1]["blob"]) == b"b" * 100
    assert rows[0]["mime"] == "x-fake/image"


def test_decode_fake_byte_math(media):
    out = {r["media_id"]: r for r in MM.decode_media(media, codec="fake").collect()}
    assert out[1]["n_bytes"] == 100
    assert out[1]["first_byte"] == ord("b")
    assert out[1]["byte_sum"] == 100 * ord("b")
    assert out[0]["width"] == 1 and out[0]["height"] == 1  # doc_id 0


def test_decode_real_codec_raises(media):
    with pytest.raises(Exception) as ei:
        MM.decode_media(media, codec="real").collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_decode_unknown_codec_rejected(media):
    with pytest.raises(ValueError):
        MM.decode_media(media, codec="png")


def test_resize_cycles_and_truncates(media):
    out = {r["media_id"]: bytes(r["blob"]) for r in
           MM.resize_media(media, out_w=10, out_h=6).collect()}
    assert all(len(b) == 60 for b in out.values())
    assert out[0] == b"a" * 48 + b"a" * 12          # cycled up
    assert out[1] == b"b" * 60                      # truncated down


def test_frame_sample_native_plan_and_counts(media):
    frames = MM.sample_frames(media, frame_bytes=64, every_n=4)
    # fan-out must stay JVM-side: no Python/Arrow eval in the plan
    plan = frames._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    got = frames.collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r)
    # only video kind (doc_id % 3 == 2): ids 2 (300B -> 4 frames) and 5
    assert set(by_id) == {2, 5}
    # 300 // 64 = 4 frames, every 4th -> frame_no {0}
    assert sorted(r["frame_no"] for r in by_id[2]) == [0]
    md5 = hashlib.md5(b"c" * 64).hexdigest()
    assert by_id[2][0]["frame_md5"] == md5


def test_frame_sample_every_frame(media):
    frames = MM.sample_frames(media, frame_bytes=64, every_n=1)
    n2 = [r for r in frames.collect() if r["media_id"] == 2]
    assert sorted(r["frame_no"] for r in n2) == [0, 1, 2, 3]
    # last full frame only — 300 = 4*64 + 44, partial tail dropped
    tail_md5 = hashlib.md5(b"c" * 64).hexdigest()
    assert all(r["frame_md5"] == tail_md5 for r in n2)


def test_byte_histogram_sums_to_length(media):
    out = {r["media_id"]: r["hist"] for r in MM.byte_histogram(media, bins=16).collect()}
    assert sum(out[1]) == 100
    assert out[1][ord("b") // 16] == 100
    assert len(out[0]) == 16


def test_histogram_batch_shape_multi_partition(spark):
    # plumbing survives many partitions + empty partitions
    docs = spark.createDataFrame(
        [(i, "z" * (i + 1), "en", "s", i + 1) for i in range(20)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    ).repartition(16)
    m = MM.synth_media(docs)
    got = MM.byte_histogram(m, bins=8).collect()
    assert len(got) == 20
    assert all(sum(r["hist"]) == r["media_id"] + 1 for r in got)


# ------------------------------------------------- WAV header decode

def test_wav_parse_agrees_with_stdlib_wave(spark):
    """Independent referee: python's stdlib `wave` reads the blobs our
    synthesizer writes; the JVM parser must agree field-for-field."""
    import io
    import wave

    docs = spark.createDataFrame([(i,) for i in (0, 1, 7, 53, 101)], "doc_id INT")
    blobs = {r.media_id: bytes(r.blob) for r in MM.synth_wav(docs).collect()}
    parsed = {
        r.media_id: r.asDict() for r in MM.parse_wav_header(MM.synth_wav(docs)).collect()
    }
    for mid, blob in blobs.items():
        with wave.open(io.BytesIO(blob)) as w:
            p = parsed[mid]
            assert p["channels"] == w.getnchannels()
            assert p["sample_rate"] == w.getframerate()
            assert p["bits_per_sample"] == w.getsampwidth() * 8
            assert p["data_bytes"] == w.getnframes() * w.getnchannels() * w.getsampwidth()
            assert p["duration_ms"] == (
                p["data_bytes"] * 1000 // (w.getframerate() * w.getnchannels() * w.getsampwidth())
            )


def test_wav_parse_rejects_non_wav_blobs(spark):
    """Truncated or non-RIFF blobs parse to NULL fields, never errors."""
    rows = [
        (1, b"\xff\xd8\xff\xe0" + b"\x00" * 60),  # JPEG magic, long enough
        (2, b"RIFF"),                              # truncated
        (3, b""),                                  # empty
    ]
    df = spark.createDataFrame(rows, "media_id INT, blob BINARY")
    out = {r.media_id: r.sample_rate for r in MM.parse_wav_header(df).collect()}
    assert out == {1: None, 2: None, 3: None}


def test_compression_ratio_referee(spark):
    """Values match direct zlib.compress; ordering separates loopy
    boilerplate < prose < random-ish text; empty scores 0."""
    import zlib

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and keeps going"),
        (2, "spam " * 200),
        (3, "kq9#Zx!7vR@2mW$8pL%4eT&6yU*1oI(3aS)5dF-0gH_jKcVbNn"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    out = {r.doc_id: (r.n_bytes, r.ratio_milli)
           for r in MM.compression_ratio_milli(df, "doc_id", "text").collect()}
    for did, text in rows:
        raw = text.encode("utf-8")
        want = (len(zlib.compress(raw, 6)) * 1000) // len(raw) if raw else 0
        assert out[did] == (len(raw), want)
    assert out[2][1] < out[1][1] < out[3][1]
    assert out[4] == (0, 0)


# --------------------------------- property: WAV parser totality

from hypothesis import given, settings, strategies as st


@settings(max_examples=12, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=80), min_size=1, max_size=8))
def test_wav_parse_total_on_arbitrary_bytes(spark, blobs):
    """Arbitrary byte blobs never crash the parser: every row comes
    back, with either all-NULL fields or (if the magic happens to
    match) finite integers."""
    rows = [(i, b) for i, b in enumerate(blobs)]
    df = spark.createDataFrame(rows, "media_id INT, blob BINARY")
    got = MM.parse_wav_header(df).collect()
    assert len(got) == len(blobs)
    for r in got:
        assert r.sample_rate is None or r.sample_rate >= 0


# ---------------------------------------------- PCM audio segmentation


def test_audio_segments_reconstruct_data_chunk(spark):
    """Concatenating seg_blob in seg_idx order equals the blob's data
    chunk byte-for-byte; every segment except the last is full-size
    and block-aligned."""
    docs = spark.createDataFrame([(i,) for i in range(1, 24)], "doc_id LONG")
    wav = MM.synth_wav(docs)
    blobs = {r.media_id: bytes(r.blob) for r in wav.collect()}
    segs = MM.audio_segments(wav, 100).collect()
    by_media: dict[int, list] = {}
    for r in segs:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == set(blobs)
    for mid, rows in by_media.items():
        rows.sort(key=lambda r: r.seg_idx)
        data = blobs[mid][44:]
        assert b"".join(bytes(r.seg_blob) for r in rows) == data
        did = mid
        block = (did % 2 + 1) * 2
        segb = ((8000 + (did % 4) * 4000) // 10) * block
        for r in rows[:-1]:
            assert r.seg_bytes == segb
        assert all(r.seg_bytes % block == 0 for r in rows[:-1])
        assert sum(r.seg_bytes for r in rows) == len(data)
        # offsets tile the chunk
        assert [r.seg_offset for r in rows] == [i * segb for i in range(len(rows))]


def test_audio_segments_skip_non_wav_and_reject_bad_args(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, bytearray(b"\xff\xd8\xff JPEG-ish")), (2, bytearray(b"tiny"))],
        "media_id LONG, blob BINARY",
    )
    assert MM.audio_segments(df, 100).count() == 0
    with _pytest.raises(ValueError):
        MM.audio_segments(df, 0)


def test_audio_segments_zero_shuffle_plan(spark):
    docs = spark.createDataFrame([(1,)], "doc_id LONG")
    p = (
        MM.audio_segments(MM.synth_wav(docs), 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p


def test_gunzip_bodies_roundtrip_passthrough_corrupt_and_bomb(spark):
    import gzip as _gz

    from crawler_apple_podcast_spark.operators.multimodal import gunzip_bodies

    plain = b"<html>already plain</html>"
    good = _gz.compress(b"inflated payload bytes", mtime=0)
    corrupt = good[:-8] + b"\xde\xad\xbe\xef" + good[-4:]  # flip the CRC32
    bomb = _gz.compress(b"\x00" * 200_000, mtime=0)  # inflates far past cap
    df = spark.createDataFrame(
        [(1, bytearray(plain)), (2, bytearray(good)),
         (3, bytearray(corrupt)), (4, bytearray(bomb)), (5, None)],
        "media_id LONG, blob BINARY",
    )
    got = {
        r.media_id: (bytes(r.body) if r.body is not None else None, r.gzip_ok)
        for r in gunzip_bodies(df, max_bytes=100_000).collect()
    }
    assert got[1] == (plain, None)               # non-gzip passes through
    assert got[2] == (b"inflated payload bytes", True)
    assert got[3] == (None, False)               # CRC/corruption caught
    assert got[4] == (None, False)               # bomb capped at max_bytes
    assert got[5] == (None, None)                # NULL stays NULL


def _ahash_ref(data: bytes, bits: int = 64) -> int:
    """Independent pure-Python referee for the aHash kernel."""
    n = len(data)
    if n == 0:
        return 0
    total = sum(data)
    h = 0
    for i in range(bits):
        lo, hi = (i * n) // bits, ((i + 1) * n) // bits
        if sum(data[lo:hi]) * n > total * (hi - lo):
            h |= 1 << i
    return h


def test_ahash_matches_python_referee(spark):
    blobs = [
        b"a" * 48,
        b"hello world " * 20,
        bytes(range(200)),
        b"\xff" * 30 + b"\x00" * 30,   # exercises bit 63 (high cells off)
        b"\x00" * 30 + b"\xff" * 34,   # exercises bit 63 on (sign packing)
        b"x",                          # n < bits: empty cells -> bit 0
        b"",
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in enumerate(blobs)],
        "media_id LONG, blob BINARY",
    )
    got = {r.media_id: r.ahash for r in MM.ahash_fingerprints(df).collect()}
    for i, b in enumerate(blobs):
        want = _ahash_ref(b)
        want_signed = want - (1 << 64) if want >= 1 << 63 else want
        assert got[i] == want_signed, f"blob {i}"


def test_ahash_near_pairs_finds_perturbed_twins(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        body = bytes(rng.randrange(32, 127) for _ in range(400))
        rows.append((i * 2, bytearray(body)))
        if i % 4 == 0:  # twin with one byte rewritten
            rows.append((i * 2 + 1, bytearray(b"z" + body[1:])))
    df = spark.createDataFrame(rows, "media_id LONG, blob BINARY")
    pairs = {
        (r.media_a, r.media_b)
        for r in MM.ahash_near_pairs(df, max_hamming=3).collect()
    }
    planted = {(i * 2, i * 2 + 1) for i in range(40) if i % 4 == 0}
    assert planted <= pairs  # every twin recovered
    # random 400-byte blobs are far apart: nothing beyond the twins
    assert pairs == planted
