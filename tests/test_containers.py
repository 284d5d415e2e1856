"""WAV/MP4/TIFF container codecs (functions/containers.py) and the
wave-7 corpus ops — round trips, malformed-input contracts, packing
semantics."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from watermill_kinesis_spark.functions.containers import (
    decode_tiff_tags,
    decode_wav,
    encode_mp4,
    encode_tiff,
    encode_wav,
    probe_mp4,
)

rng = np.random.default_rng(77)


# -- WAV ---------------------------------------------------------------


def test_wav_mono_roundtrip_exact():
    s = (rng.integers(-2048, 2048, 300)).astype(np.int16)
    rate, ch, out = decode_wav(encode_wav(s, 16000))
    assert (rate, ch) == (16000, 1)
    assert np.array_equal(out[:, 0], s)


def test_wav_stereo_roundtrip_exact():
    st = rng.integers(-30000, 30000, (128, 2)).astype(np.int16)
    rate, ch, out = decode_wav(encode_wav(st, 44100))
    assert (rate, ch) == (44100, 2)
    assert np.array_equal(out, st)


def test_wav_odd_data_length_word_aligned():
    # odd byte counts get a pad byte; decode must not read it as PCM
    s = np.array([1], dtype=np.int16)
    raw = bytearray(encode_wav(s, 8000))
    rate, ch, out = decode_wav(bytes(raw))
    assert out.shape == (1, 1)


def test_wav_unknown_chunks_skipped():
    s = np.arange(10, dtype=np.int16)
    raw = encode_wav(s, 8000)
    # splice a LIST chunk between WAVE tag and fmt
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    spliced = raw[:12] + extra + raw[12:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate, ch, out = decode_wav(spliced)
    assert np.array_equal(out[:, 0], s)


def test_wav_malformed_raises_value_error():
    s = np.arange(50, dtype=np.int16)
    with pytest.raises(ValueError):
        decode_wav(encode_wav(s, 8000)[:-30])
    with pytest.raises(ValueError):
        decode_wav(b"RIFF\x00\x00\x00\x00AIFF")
    # non-PCM format code refused, not misparsed
    raw = bytearray(encode_wav(s, 8000))
    raw[20] = 3  # fmt code → IEEE float
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(raw))


# -- MP4 ---------------------------------------------------------------


def test_mp4_probe_fields():
    info = probe_mp4(encode_mp4(1000, 123456, 3, brand="mp42"))
    assert info == {
        "brand": "mp42",
        "timescale": 1000,
        "duration": 123456,
        "n_tracks": 3,
    }


def test_mp4_zero_tracks_and_large_duration():
    info = probe_mp4(encode_mp4(90000, 2**31, 0))
    assert info["n_tracks"] == 0
    assert info["duration"] == 2**31


def test_mp4_mvhd_v1_64bit_duration():
    # hand-build a v1 mvhd (64-bit duration) inside moov
    mvhd = (
        b"\x01\x00\x00\x00"
        + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 600)
        + struct.pack(">Q", 2**40)
    )
    def box(t, b):
        return struct.pack(">I", 8 + len(b)) + t + b
    p = box(b"ftyp", b"isom" + struct.pack(">I", 0)) + box(
        b"moov", box(b"mvhd", mvhd)
    )
    info = probe_mp4(p)
    assert info["timescale"] == 600
    assert info["duration"] == 2**40


def test_mp4_malformed_raises_value_error():
    with pytest.raises(ValueError):
        probe_mp4(b"\x00\x00\x00\x08free")  # no ftyp
    with pytest.raises(ValueError):
        probe_mp4(encode_mp4(600, 100, 1)[:-7])  # truncated box
    # ftyp but no moov/mvhd
    p = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    with pytest.raises(ValueError, match="mvhd"):
        probe_mp4(p)


# -- TIFF --------------------------------------------------------------


@pytest.mark.parametrize("big", [False, True])
def test_tiff_roundtrip_both_byte_orders(big):
    tags = {0x0100: (4, 4096), 0x0101: (4, 2160), 0x0112: (3, 6), 0x0115: (3, 3)}
    got = decode_tiff_tags(encode_tiff(tags, big_endian=big))
    assert got == {0x0100: 4096, 0x0101: 2160, 0x0112: 6, 0x0115: 3}


def test_tiff_malformed_raises_value_error():
    with pytest.raises(ValueError):
        decode_tiff_tags(b"II\x2a\x00\xff\xff\xff\xff")  # IFD offset OOB
    with pytest.raises(ValueError):
        decode_tiff_tags(b"XX\x2a\x00" + b"\x00" * 8)
    raw = encode_tiff({0x0112: (3, 1)})
    with pytest.raises(ValueError):
        decode_tiff_tags(raw[:12])  # entry truncated


# -- wave-7 corpus ops -------------------------------------------------


def test_reservoir_sample_exactly_k_per_source(spark, sf_dir):
    from watermill_kinesis_spark.operators.pipeline import (
        RESERVOIR_K,
        reservoir_sample_per_source,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    per_source = {
        r.source: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = reservoir_sample_per_source(spark, sf_dir).collect()
    from collections import Counter

    got = Counter(r.source for r in rows)
    for src, n in per_source.items():
        assert got[src] == min(RESERVOIR_K, n)
    assert all(1 <= r.sample_rank <= RESERVOIR_K for r in rows)


def test_packing_next_fit_semantics(spark, sf_dir):
    from watermill_kinesis_spark.operators.pipeline import (
        BIN_CAPACITY,
        packing_next_fit,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    rows = {r.source: r for r in packing_next_fit(spark, sf_dir).collect()}
    # independent per-source replay of the fold
    for src, pdf in (
        d.select("source", "doc_id", "n_chars").toPandas().groupby("source")
    ):
        pdf = pdf.sort_values("doc_id")
        fill, bins = 0, 0
        for n in pdf["n_chars"]:
            if bins == 0 or fill + n > BIN_CAPACITY:
                bins, fill = bins + 1, int(n)
            else:
                fill += int(n)
        r = rows[src]
        assert r.n_bins == bins
        assert r.n_docs == len(pdf)
        assert r.total_chars == int(pdf["n_chars"].sum())
        assert r.wasted_chars == bins * BIN_CAPACITY - r.total_chars
        # packing never wastes a whole bin beyond the open one
        assert r.n_bins * BIN_CAPACITY >= r.total_chars


def test_id3v2_roundtrip_and_truncation():
    from watermill_kinesis_spark.functions.containers import (
        encode_id3v2,
        probe_id3v2,
    )
    import pytest

    p = encode_id3v2([("TIT2", "A Song"), ("TPE1", "An Artist"), ("TALB", "LP")])
    info = probe_id3v2(p)
    assert info["version"] == 3
    assert info["frames"] == [
        ("TIT2", "A Song"),
        ("TPE1", "An Artist"),
        ("TALB", "LP"),
    ]
    assert info["tag_bytes"] == len(p)
    with pytest.raises(ValueError):
        probe_id3v2(p[: len(p) // 2])
    with pytest.raises(ValueError):
        probe_id3v2(b"ID3\x04\x00\x00\x00\x00\x00\x00")  # v2.4 rejected


def test_id3v2_flags_and_tail_garbage_raise():
    """r6 review: header flags (ext-header/unsync) change the body
    layout — walking anyway emits phantom frames; and 1-9 junk bytes
    after the last frame are torn-frame corruption, not padding."""
    from watermill_kinesis_spark.functions.containers import (
        encode_id3v2,
        probe_id3v2,
    )
    import pytest

    good = bytearray(encode_id3v2([("TIT2", "Song")]))
    flagged = bytes(good[:5]) + b"\x40" + bytes(good[6:])
    with pytest.raises(ValueError, match="flags"):
        probe_id3v2(flagged)
    # replace the trailing zero padding's last 3 bytes with junk
    torn = bytes(good[:-3]) + b"\x07\x07\x07"
    with pytest.raises(ValueError, match="padding"):
        probe_id3v2(torn)
