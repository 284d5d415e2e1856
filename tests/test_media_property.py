"""Property-based round trips for the media codecs (imaging.py,
containers.py) — decode(encode(x)) == x over adversarial shapes and
values, hypothesis-shrunk. No Spark session needed: the kernels are
pure functions, which is exactly why they can be property-tested at
this density (the engine analogue of the reference's round-trip
contract style, SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from watermill_kinesis_spark.functions.containers import (
    decode_tiff_tags,
    decode_wav,
    encode_mp4,
    encode_tiff,
    encode_wav,
    probe_mp4,
)
from watermill_kinesis_spark.functions.imaging import (
    decode_bmp,
    decode_gif,
    decode_jpeg,
    encode_bmp,
    encode_gif,
    encode_jpeg,
)

DIMS = st.integers(min_value=1, max_value=24)


@settings(max_examples=40, deadline=None)
@given(h=DIMS, w=DIMS, seed=st.integers(0, 2**32 - 1))
def test_bmp_roundtrip_property(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


@settings(max_examples=40, deadline=None)
@given(
    h=DIMS,
    w=DIMS,
    npal=st.integers(min_value=1, max_value=256),
    seed=st.integers(0, 2**32 - 1),
)
def test_gif_roundtrip_property(h, w, npal, seed):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
    idx = rng.integers(0, npal, (h, w), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=40),
    w=st.integers(min_value=1, max_value=40),
    gray=st.booleans(),
    sub=st.sampled_from(["444", "420"]),
    dri=st.integers(min_value=0, max_value=3),
    seed=st.integers(0, 2**32 - 1),
)
def test_jpeg_decodes_any_shape_within_range(h, w, gray, sub, dri, seed):
    """JPEG is lossy, so the property is structural: output shape
    matches input, dtype uint8, and a CONSTANT image reconstructs
    within DC-quantization tolerance regardless of dims/subsampling/
    restart cadence."""
    rng = np.random.default_rng(seed)
    if gray:
        px = np.full((h, w), int(rng.integers(0, 256)), dtype=np.uint8)
        dec = decode_jpeg(encode_jpeg(px, restart_interval=dri))
        assert dec.shape == (h, w, 1)
    else:
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :] = rng.integers(0, 256, 3)
        dec = decode_jpeg(
            encode_jpeg(px, subsample=sub, restart_interval=dri)
        )
        assert dec.shape == (h, w, 3)
    assert dec.dtype == np.uint8
    assert np.abs(dec.astype(int) - px.reshape(h, w, -1).astype(int)).max() <= 4


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=500),
    ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 22050, 44100, 48000]),
    seed=st.integers(0, 2**32 - 1),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    rng = np.random.default_rng(seed)
    s = rng.integers(-(2**15), 2**15, (n, ch)).astype(np.int16)
    got_rate, got_ch, out = decode_wav(encode_wav(s, rate))
    assert (got_rate, got_ch) == (rate, ch)
    assert np.array_equal(out, s)


@settings(max_examples=40, deadline=None)
@given(
    ts=st.integers(min_value=1, max_value=2**32 - 1),
    dur=st.integers(min_value=0, max_value=2**32 - 1),
    tracks=st.integers(min_value=0, max_value=12),
)
def test_mp4_probe_property(ts, dur, tracks):
    info = probe_mp4(encode_mp4(ts, dur, tracks))
    assert info["timescale"] == ts
    assert info["duration"] == dur
    assert info["n_tracks"] == tracks


@settings(max_examples=40, deadline=None)
@given(
    tags=st.dictionaries(
        keys=st.integers(min_value=1, max_value=0xFFFF),
        values=st.one_of(
            st.tuples(st.just(3), st.integers(0, 0xFFFF)),
            st.tuples(st.just(4), st.integers(0, 0xFFFFFFFF)),
        ),
        min_size=1,
        max_size=16,
    ),
    big=st.booleans(),
)
def test_tiff_roundtrip_property(tags, big):
    got = decode_tiff_tags(encode_tiff(tags, big_endian=big))
    assert got == {t: v for t, (ft, v) in tags.items()}


@settings(max_examples=40, deadline=None)
@given(
    n_frames=st.integers(1, 6),
    h=st.integers(1, 12),
    w=st.integers(1, 12),
    loops=st.integers(0, 65535),
    seed=st.integers(0, 2**32 - 1),
)
def test_animated_gif_probe_property(n_frames, h, w, loops, seed):
    from watermill_kinesis_spark.functions.imaging import (
        encode_animated_gif,
        probe_gif_animation,
    )

    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 4, (h, w), dtype=np.uint8) for _ in range(n_frames)]
    delays = [int(d) for d in rng.integers(0, 1000, n_frames)]
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    p = encode_animated_gif(frames, pal, delays, loops=loops)
    info = probe_gif_animation(p)
    assert info["n_frames"] == n_frames
    assert info["total_delay_cs"] == sum(delays)
    assert info["loops"] == loops
    assert (info["width"], info["height"]) == (w, h)
    # still decoder reads frame 1's pixels
    from watermill_kinesis_spark.functions.imaging import decode_gif

    px = decode_gif(p)
    assert px.shape == (h, w, 3)
    pal_arr = np.array(pal, dtype=np.uint8)
    assert np.array_equal(px, pal_arr[frames[0]])


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 16),
    w=st.integers(1, 16),
    texts=st.lists(
        st.tuples(
            st.text(alphabet="abcdefgXYZ", min_size=1, max_size=10),
            st.text(alphabet="abcdefg 0123", min_size=0, max_size=20),
        ),
        min_size=0,
        max_size=4,
    ),
)
def test_png_chunk_walk_property(h, w, texts):
    from watermill_kinesis_spark.functions.imaging import (
        encode_png_text,
        probe_png_chunks,
    )

    p = encode_png_text(w, h, texts)
    info = probe_png_chunks(p)
    assert (info["width"], info["height"]) == (w, h)
    assert info["texts"] == texts
    assert info["n_chunks"] == 3 + len(texts)


@settings(max_examples=60, deadline=None)
@given(
    pos=st.integers(8, 200),
    bit=st.integers(0, 7),
)
def test_png_any_flipped_bit_raises(pos, bit):
    """CRC integrity: flipping ANY bit in any chunk body/header (past
    the signature) must raise, never return silently-wrong metadata."""
    import pytest as _pytest

    from watermill_kinesis_spark.functions.imaging import (
        encode_png_text,
        probe_png_chunks,
    )

    p = bytearray(encode_png_text(5, 4, [("Key", "value")]))
    pos = min(pos, len(p) - 1)
    p[pos] ^= 1 << bit
    try:
        info = probe_png_chunks(bytes(p))
    except ValueError:
        return  # the expected outcome
    # a flip may hit a chunk LENGTH field making parsing see a
    # different (still CRC-consistent) structure only if it lands in
    # ignored trailing space — for a flip to pass silently it must
    # reproduce the original metadata exactly, which is impossible
    # here: fail loudly if the parse both succeeded AND lied
    assert info["texts"] == [("Key", "value")] and (
        info["width"],
        info["height"],
    ) == (5, 4), "corrupt PNG parsed to different metadata without error"


def _media_samples():
    """One small encoder output per decoder/probe, named by format."""
    from watermill_kinesis_spark.functions.imaging import (
        decode_image_pixels,
        encode_animated_gif,
        encode_png,
        encode_png_text,
        probe_gif_animation,
        probe_png_chunks,
    )
    from watermill_kinesis_spark.functions.containers import (
        encode_id3v2,
        probe_id3v2,
    )

    yy, xx = np.mgrid[0:16, 0:16]
    rgb16 = np.stack([yy * 16, xx * 16, (yy + xx) * 8], axis=2).astype(np.uint8)
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    idx = (np.arange(12).reshape(3, 4) % 4).astype(np.uint8)
    return {
        "bmp": (decode_bmp, encode_bmp(rgb16[:4, :5])),
        "gif": (decode_gif, encode_gif(idx, pal)),
        "gif-animation": (
            probe_gif_animation,
            encode_animated_gif([idx, idx[::-1]], pal, [5, 7], loops=2),
        ),
        "jpeg": (decode_jpeg, encode_jpeg(rgb16, restart_interval=2)),
        "png": (decode_image_pixels, encode_png(rgb16[:3, :4])),
        "png-chunks": (probe_png_chunks, encode_png_text(3, 2, [("k", "v")])),
        "wav": (decode_wav, encode_wav(np.arange(-6, 6, dtype=np.int16), 8000)),
        "mp4": (probe_mp4, encode_mp4(600, 1200, 2)),
        "tiff": (decode_tiff_tags, encode_tiff({0x100: (4, 640), 0x112: (3, 6)})),
        "id3": (probe_id3v2, encode_id3v2([("TIT2", "t"), ("TPE1", "a")], padding=4)),
    }


@pytest.mark.parametrize("fmt", sorted(_media_samples()))
def test_every_truncation_and_bit_flip_raises_value_error_or_decodes(fmt):
    """The corrupt-skip contract, exhaustively: every prefix of a valid
    container and every single-bit flip of it either decodes or raises
    ``ValueError`` — never an internal IndexError/KeyError/struct
    error that would crash the Arrow worker."""
    decode, payload = _media_samples()[fmt]
    variants = [(f"cut at {cut}", payload[:cut]) for cut in range(len(payload))]
    for pos in range(len(payload)):
        for bit in range(8):
            flipped = bytearray(payload)
            flipped[pos] ^= 1 << bit
            variants.append((f"flip byte {pos} bit {bit}", bytes(flipped)))
    failures = []
    for label, v in variants:
        try:
            decode(v)
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001 - any other class breaks the contract
            failures.append(f"{label}: {type(e).__name__}: {e}")
    assert not failures, f"{len(failures)} of {len(variants)} variants: " + "; ".join(
        failures[:5]
    )
