"""Multimodal WAV codec path: the decoder must be a real parser, not a
fixed-offset peek — it walks RIFF chunks, validates magic values, and
fails loudly on corrupt payloads instead of returning garbage stats.
"""

import struct

import pytest

from filemapreduce_spark.queries import load_all
from filemapreduce_spark.queries.multimodal import decode_wav_payload


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _wav(ch=1, rate=8000, samples=b"\x01\x00\x02\x00", extra_chunk=False):
    body = b""
    if extra_chunk:
        # an unknown odd-sized chunk before fmt — a correct walker
        # skips it (with its pad byte); a fixed-offset reader misparses
        body += b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, ch, rate, rate * ch * 2, ch * 2, 16
    )
    body += b"data" + struct.pack("<I", len(samples)) + samples
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_decode_basic_fields():
    (
        doc_id, ch, rate, n_frames, data_bytes, byte_sum,
        first_lo, first_hi, ch0_min, ch0_max, ch0_sum, ch1_sum,
    ) = decode_wav_payload(7, _wav())
    assert (doc_id, ch, rate) == (7, 1, 8000)
    assert n_frames == 2 and data_bytes == 4
    assert (first_lo, first_hi) == (1, 0)
    assert (ch0_min, ch0_max, ch0_sum, ch1_sum) == (1, 2, 3, 0)


def test_decode_walks_unknown_chunks_with_padding():
    """An odd-sized unknown chunk before fmt must be skipped via the
    word-alignment pad — proves chunk walking, not offset peeking."""
    out = decode_wav_payload(1, _wav(extra_chunk=True))
    assert out[1] == 1 and out[3] == 2  # ch, n_frames


def test_decode_stereo_deinterleaves():
    # frames: (L=1,R=-1), (L=3,R=5) little-endian int16
    samples = struct.pack("<4h", 1, -1, 3, 5)
    out = decode_wav_payload(2, _wav(ch=2, samples=samples))
    _, ch, _, n_frames, _, _, _, _, ch0_min, ch0_max, ch0_sum, ch1_sum = out
    assert ch == 2 and n_frames == 2
    assert (ch0_min, ch0_max, ch0_sum) == (1, 3, 4)
    assert ch1_sum == 4  # -1 + 5


def test_decode_rejects_bad_magic():
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        decode_wav_payload(1, b"JUNK" + _wav()[4:])


def test_decode_rejects_non_pcm():
    wav = bytearray(_wav())
    # fmt code lives right after 'fmt '+size; patch PCM(1) -> 3
    i = wav.index(b"fmt ") + 8
    wav[i] = 3
    with pytest.raises(ValueError, match="not PCM"):
        decode_wav_payload(1, bytes(wav))


def test_decode_rejects_missing_data_chunk():
    wav = _wav()
    truncated = wav[: wav.index(b"data")]
    with pytest.raises(ValueError, match="missing fmt/data"):
        decode_wav_payload(1, truncated)


def test_decode_end_to_end_matches_synth(spark, registry, sf_small):
    """The synthesized corpus round-trips through Spark: every row
    decodes with the per-doc format fields the synthesizer derives."""
    df = registry["multimodal_decode_features"].fn(spark, sf_small)
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_channels == 1 + r.doc_id % 2
        assert r.sample_rate == 8000 + (r.doc_id % 3) * 4000
        assert r.n_frames == 50 + r.doc_id % 77
        assert r.data_bytes == r.n_frames * r.n_channels * 2
        assert -32768 <= r.ch0_min <= r.ch0_max <= 32767


# ---------------------------------------------------------------
# PPM (P6) image parser + 2x2 pooling (multimodal2)
# ---------------------------------------------------------------
def _ppm(w=4, h=2, maxval=255, data=None):
    body = bytes(range(w * h * 3)) if data is None else data
    return f"P6\n{w} {h}\n{maxval}\n".encode() + body


def test_ppm_rejects_bad_magic():
    from filemapreduce_spark.queries.multimodal import parse_ppm

    with pytest.raises(ValueError, match="not a P6"):
        parse_ppm(1, b"P5\n2 2\n255\n" + bytes(12))


def test_ppm_rejects_bad_maxval():
    from filemapreduce_spark.queries.multimodal import parse_ppm

    with pytest.raises(ValueError, match="maxval"):
        parse_ppm(1, _ppm(maxval=15, data=bytes(24)))


def test_ppm_rejects_truncated_payload():
    from filemapreduce_spark.queries.multimodal import parse_ppm

    with pytest.raises(ValueError, match="!= 4\\*2\\*3"):
        parse_ppm(1, _ppm(data=bytes(10)))


def test_ppm_parses_multiline_whitespace_header():
    from filemapreduce_spark.queries.multimodal import parse_ppm

    raw = b"P6 2\n1\t255\n" + bytes([10, 20, 30, 40, 50, 60])
    w, h, arr = parse_ppm(1, raw)
    assert (w, h) == (2, 1)
    assert arr.shape == (1, 2, 3)
    assert arr[0, 1, 2] == 60


def test_ppm_pool_known_values():
    """2x2 average pool on a hand-computed image: odd row/col cropped,
    each pooled channel is the floor-mean of its 4 source bytes."""
    import numpy as np

    from filemapreduce_spark.queries.multimodal import parse_ppm

    w, h = 3, 3  # odd dims: pooling must crop to 2x2
    data = bytes(range(w * h * 3))
    _, _, arr = parse_ppm(1, _ppm(w=w, h=h, data=data))
    crop = arr[:2, :2, :]
    pooled = (
        crop[0::2, 0::2] + crop[0::2, 1::2]
        + crop[1::2, 0::2] + crop[1::2, 1::2]
    ) // 4
    # channel 0 block: bytes at (0,0),(0,1),(1,0),(1,1) -> 0,3,9,12
    assert pooled[0, 0, 0] == (0 + 3 + 9 + 12) // 4
    assert pooled.shape == (1, 1, 3)


def test_audio_frame_energy_matches_recurrence(spark, registry, sf_small):
    """Every emitted frame's energy equals the recurrence-derived sum
    of squares, and ranks are dominance-ordered."""
    df = registry["audio_frame_energy_top2"].fn(spark, sf_small)
    rows = df.collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    A, B, C = 7919, 104729, 12345
    for doc_id, rs in list(by_doc.items())[:50]:
        rs = sorted(rs, key=lambda r: r.rk)
        energies = [r.energy for r in rs]
        assert energies == sorted(energies, reverse=True)
        ch = 1 + doc_id % 2
        n = 50 + doc_id % 77
        vals = [((doc_id * A + (i * ch) * B + C) % 65536) - 32768
                for i in range(n)]
        for r in rs:
            frame = vals[r.frame_idx * 16 : (r.frame_idx + 1) * 16]
            assert r.energy == sum(v * v for v in frame)
            assert r.n_samples == len(frame)


def test_image_histogram_conserves_pixel_count(spark):
    """Histogram mass must equal the total decoded pixel count
    (3 channels x W x H per doc)."""
    from filemapreduce_spark.queries import load_all

    registry = load_all()
    rows = registry["image_pixel_histogram"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    total = sum(r["n_pixels"] for r in rows)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id").collect()
    expect = sum(
        (8 + r["doc_id"] % 9) * (6 + r["doc_id"] % 7) * 3 for r in docs
    )
    assert total == expect
    assert len(rows) <= 24
    for r in rows:
        assert 0 <= r["bin"] <= 7 and 0 <= r["channel"] <= 2


def test_audio_decimation_halves_and_bounds_peak(spark):
    from filemapreduce_spark.queries import load_all

    registry = load_all()
    rows = registry["audio_decimate_2to1"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    for r in rows:
        n_frames = 50 + r["doc_id"] % 77
        assert r["n_out"] == n_frames // 2
        # a pair-sum of two int16 samples is bounded by 2*32768
        assert 0 <= r["peak"] <= 2 * 32768
