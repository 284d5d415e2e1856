"""BMP/GIF/JPEG codecs (functions/imaging.py) — the pixel-decode
surface behind decode_image_pixels' kernel seam. Lossless formats
round-trip bit-exactly; JPEG within quantization tolerance."""

from __future__ import annotations

import numpy as np
import pytest

from watermill_kinesis_spark.functions.imaging import (
    decode_bmp,
    decode_gif,
    decode_image_pixels,
    decode_jpeg,
    encode_animated_gif,
    encode_bmp,
    encode_gif,
    encode_jpeg,
    sniff_image,
)

rng = np.random.default_rng(1234)


# -- BMP ---------------------------------------------------------------


@pytest.mark.parametrize("shape", [(7, 5, 3), (16, 16, 3), (1, 1, 3), (3, 9, 3)])
def test_bmp_roundtrip_exact(shape):
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(px)), px)


def test_bmp_gray_input_expands_to_rgb():
    g = rng.integers(0, 256, (6, 6), dtype=np.uint8)
    out = decode_bmp(encode_bmp(g))
    assert np.array_equal(out, np.repeat(g[:, :, None], 3, axis=2))


def test_bmp_sniff_and_dispatch():
    px = rng.integers(0, 256, (4, 4, 3), dtype=np.uint8)
    payload = encode_bmp(px)
    fmt, w, h, _ = sniff_image(payload)
    assert (fmt, w, h) == ("bmp", 4, 4)
    assert np.array_equal(decode_image_pixels(payload), px)


def test_bmp_truncated_raises_value_error():
    px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_bmp(encode_bmp(px)[:-40])


def test_bmp_8bit_palette_and_topdown():
    # hand-build an 8bpp palette BMP, top-down (negative height)
    import struct

    w, h = 5, 3
    idx = rng.integers(0, 16, (h, w), dtype=np.uint8)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    pal_bytes = b"".join(bytes([b, g, r, 0]) for r, g, b in pal.tolist())
    stride = (w + 3) & ~3
    body = b"".join(
        idx[y].tobytes() + b"\x00" * (stride - w) for y in range(h)
    )
    data_off = 54 + len(pal_bytes)
    hdr = b"BM" + struct.pack("<IHHI", data_off + len(body), 0, 0, data_off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, -h, 1, 8, 0, len(body), 0, 0, 16, 0
    )
    out = decode_bmp(hdr + dib + pal_bytes + body)
    assert np.array_equal(out, pal[idx])


# -- GIF ---------------------------------------------------------------


def test_gif_roundtrip_small_palette():
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (11, 13), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])


def test_gif_roundtrip_full_palette():
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (31, 17), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif(idx, pal)), pal[idx])


@pytest.mark.parametrize("n_colors", [257, 300, 512])
def test_gif_palette_over_256_colors_raises(n_colors):
    # the screen descriptor's 3-bit size field cannot declare more than
    # 256 entries; a bigger palette used to encode an unreadable GIF
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (3, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="256"):
        encode_gif(idx, pal)
    with pytest.raises(ValueError, match="256"):
        encode_animated_gif([idx, idx], pal, [10, 10])


def test_gif_sniff_and_dispatch():
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    idx = rng.integers(0, 256, (6, 9), dtype=np.uint8)
    payload = encode_gif(idx, pal)
    fmt, w, h, _ = sniff_image(payload)
    assert (fmt, w, h) == ("gif", 9, 6)
    assert np.array_equal(decode_image_pixels(payload)[:, :, 0], idx)


def _gif_descriptor_offset(raw: bytes) -> int:
    """Image-descriptor offset: header(6) + LSD(7) + GCT(3·2^(N+1))."""
    size_field = raw[10] & 0x07
    return 13 + 3 * (2 << size_field)


def test_gif_extension_blocks_are_skipped():
    # splice a GCE (0x21 0xF9) before the image descriptor
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idx = rng.integers(0, 4, (3, 3), dtype=np.uint8)
    raw = encode_gif(idx, pal)
    at = _gif_descriptor_offset(raw)
    assert raw[at] == 0x2C
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    spliced = raw[:at] + gce + raw[at:]
    assert np.array_equal(decode_gif(spliced), pal[idx])


def test_gif_truncated_raises_value_error():
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    idx = rng.integers(0, 8, (10, 10), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_gif(encode_gif(idx, pal)[:-12])


def test_gif_real_lzw_table_growth_decodes():
    """A run-heavy image makes a REAL LZW coder grow its table (the
    encoder here resets per symbol, so build one by hand): verify the
    variable-width decode path with table growth to 12 bits."""
    # reference LZW encoder (textbook): grows table, emits clear at start
    def lzw_encode(data: bytes, min_code_size: int) -> bytes:
        clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        width = min_code_size + 1
        out_bits = []

        def emit(code):
            nonlocal width
            out_bits.append((code, width))

        emit(clear)
        buf = b""
        for byte in data:
            cand = buf + bytes([byte])
            if cand in table:
                buf = cand
                continue
            emit(table[buf])
            table[cand] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
            buf = bytes([byte])
        if buf:
            emit(table[buf])
        emit(eoi)
        acc = nbits = 0
        raw = bytearray()
        for code, wdt in out_bits:
            acc |= code << nbits
            nbits += wdt
            while nbits >= 8:
                raw.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            raw.append(acc & 0xFF)
        return bytes(raw)

    import struct

    w, h = 64, 48
    idx = (np.add.outer(np.arange(h), np.arange(w)) // 7 % 8).astype(np.uint8)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    min_cs = 3
    body = lzw_encode(idx.tobytes(), min_cs)
    gif = bytearray(b"GIF89a")
    gif += struct.pack("<HHBBB", w, h, 0x80 | 2, 0, 0)  # GCT 8 entries
    gif += pal.tobytes()
    gif += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    gif.append(min_cs)
    for off in range(0, len(body), 255):
        chunk = body[off : off + 255]
        gif.append(len(chunk))
        gif += chunk
    gif += b"\x00\x3b"
    assert np.array_equal(decode_gif(bytes(gif)), pal[idx])


def test_gif_interlaced_rows_reorder():
    """Interlace flag: rows arrive in the 4-pass order and must be
    de-interlaced back to top-down."""
    import struct

    w, h = 4, 8
    idx = np.arange(h, dtype=np.uint8).repeat(w).reshape(h, w)  # row y = value y
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    raw = encode_gif(idx, pal)
    # rebuild with interlace: reorder rows into pass order, set flag
    passes = [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)) for y in range(start, h, step)]
    inter = idx[passes]
    raw2 = bytearray(encode_gif(inter, pal))
    at = _gif_descriptor_offset(bytes(raw2))
    assert raw2[at] == 0x2C
    raw2[at + 9] |= 0x40  # image-descriptor packed: interlace bit
    out = decode_gif(bytes(raw2))
    assert np.array_equal(out[:, :, 0], idx)


# -- JPEG --------------------------------------------------------------


def test_jpeg_uniform_gray_near_exact():
    flat = np.full((16, 24), 100, dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(flat))
    assert dec.shape == (16, 24, 1)
    assert np.abs(dec.astype(int) - 100).max() <= 2


def test_jpeg_gray_gradient_tolerance():
    x = np.linspace(0, 255, 64).astype(np.uint8)
    grad = np.tile(x, (32, 1))
    dec = decode_jpeg(encode_jpeg(grad))
    assert np.abs(dec[:, :, 0].astype(int) - grad.astype(int)).max() <= 12


def test_jpeg_color_uniform_and_shape():
    rgb = np.zeros((24, 24, 3), dtype=np.uint8)
    rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2] = 200, 50, 120
    dec = decode_jpeg(encode_jpeg(rgb))
    assert dec.shape == rgb.shape
    assert np.abs(dec.astype(int) - rgb.astype(int)).max() <= 4


def test_jpeg_nonmultiple_of_8_dims():
    px = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
    dec = decode_jpeg(encode_jpeg(px))
    assert dec.shape == (17, 19, 3)


def test_jpeg_420_subsampling_decodes():
    yy, xx = np.mgrid[0:33, 0:29]
    img = np.stack(
        [(yy * 3) % 256, (xx * 5) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    d420 = decode_jpeg(encode_jpeg(img, subsample="420"))
    assert d420.shape == img.shape
    # smooth image: subsampled chroma still lands close
    assert np.abs(d420.astype(int) - img.astype(int)).max() <= 24


def test_jpeg_restart_markers_do_not_change_pixels():
    yy, xx = np.mgrid[0:33, 0:29]
    img = np.stack(
        [(yy * 3) % 256, (xx * 5) % 256, ((yy + xx) * 2) % 256], axis=2
    ).astype(np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img, restart_interval=2)),
        decode_jpeg(encode_jpeg(img)),
    )
    assert np.array_equal(
        decode_jpeg(encode_jpeg(img, subsample="420", restart_interval=3)),
        decode_jpeg(encode_jpeg(img, subsample="420")),
    )


def test_jpeg_sniff_and_dispatch():
    px = rng.integers(0, 256, (9, 12, 3), dtype=np.uint8)
    payload = encode_jpeg(px)
    fmt, w, h, mode = sniff_image(payload)
    assert (fmt, w, h) == ("jpeg", 12, 9)
    assert decode_image_pixels(payload).shape == (9, 12, 3)


def test_jpeg_progressive_rejected():
    px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    raw = bytearray(encode_jpeg(px))
    at = raw.index(b"\xff\xc0")
    raw[at + 1] = 0xC2  # flip SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(raw))


def test_jpeg_truncated_header_raises():
    px = rng.integers(0, 256, (8, 8), dtype=np.uint8)
    with pytest.raises(ValueError):
        decode_jpeg(encode_jpeg(px)[:20])


def test_jpeg_truncated_entropy_stream_raises():
    """r5 ADVICE: a stream cut mid-entropy-data must raise, not
    silently pad zero bits into garbage pixels. Cut several points in
    the scan data of a multi-MCU image (big enough that decode MUST
    consume bits past every cut)."""
    px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
    full = encode_jpeg(px)
    sos = full.index(b"\xff\xda")
    scan_start = sos + 2 + int.from_bytes(full[sos + 2 : sos + 4], "big")
    for frac in (0.25, 0.5, 0.9):
        cut = scan_start + int((len(full) - 2 - scan_start) * frac)
        with pytest.raises(ValueError, match="truncated|Huffman|overflow"):
            decode_jpeg(full[:cut])


def test_jpeg_multi_scan_baseline_rejected():
    """r5 ADVICE: a second SOS (multi-scan baseline) must raise rather
    than silently return only the first scan's plane."""
    px = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    full = bytearray(encode_jpeg(px))
    assert full[-2:] == b"\xff\xd9"
    sos = full.index(b"\xff\xda")
    seglen = int.from_bytes(full[sos + 2 : sos + 4], "big")
    second_scan = bytes(full[sos : sos + 2 + seglen]) + b"\x00\x01\x02"
    doctored = bytes(full[:-2]) + second_scan + b"\xff\xd9"
    with pytest.raises(ValueError, match="multi-scan"):
        decode_jpeg(doctored)


def test_jpeg_trailing_comment_with_marker_bytes_is_not_multiscan():
    """r6 review: COM/APPn payloads between the scan and EOI are NOT
    byte-stuffed, so one containing 0xFFDA must not be mistaken for a
    second scan — the multi-scan check walks segments by length."""
    px = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    full = bytearray(encode_jpeg(px))
    assert full[-2:] == b"\xff\xd9"
    payload = b"note \xff\xda inside comment"
    com = b"\xff\xfe" + (len(payload) + 2).to_bytes(2, "big") + payload
    doctored = bytes(full[:-2]) + com + b"\xff\xd9"
    dec = decode_jpeg(doctored)
    assert dec.shape == (16, 16, 1)
    # and identical pixels to the undoctored decode
    assert (dec == decode_jpeg(bytes(full))).all()
