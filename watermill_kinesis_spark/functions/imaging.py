"""Pure stdlib+numpy image codecs: PNG, BMP, GIF (LZW), baseline JPEG.

The one home of every image byte layout the engine reads or writes:
each format's framing is written once and walked once here, and
``operators/multimodal.py`` only calls in. ``sniff_image`` parses the
container header of all four; ``decode_image_pixels`` is the kernel
seam that decodes any of them to pixels with no imaging library —
called per-row inside Arrow-batched ``mapInPandas``, so the per-image
Python cost is amortized across a batch and the surrounding Spark plan
(partitioning, schema, shuffle shape) is identical to what a C-backed
decoder would use at 100 TB.

Each decoder has a matching minimal encoder so fixtures and oracle
queries can synthesize REAL container bytes deterministically (no
imaging library on the write side either):

- PNG: one chunk writer and one chunk iterator; 8-bit grayscale/LA/
  RGB/RGBA and palette, non-interlaced, zlib IDAT inflate and all five
  scanline unfilters; ``probe_png_chunks`` walks the same chunks
  verifying every CRC and collecting ``tEXt`` metadata.
- BMP: BITMAPINFOHEADER, uncompressed (BI_RGB) 8/24/32-bit,
  bottom-up or top-down, 4-byte row padding, palette expansion.
- GIF: 87a/89a, global/local color tables, full LZW with variable
  code width (3–12 bits, LSB-first), interlace reordering; the
  encoder emits spec-valid LZW (clear code before every symbol, so
  the code width never grows — simple, always decodable). One screen
  header, LZW packer and sub-block writer serve the still and the
  animated encoder; one block iterator serves ``decode_gif`` and
  ``probe_gif_animation``.
- JPEG: baseline sequential DCT (SOF0), 8-bit, grayscale or YCbCr
  with any sampling factors (4:4:4 / 4:2:0 / 4:2:2), restart
  markers; Huffman decode, dequantize, dezigzag, float IDCT
  (separable 8×8 via one matrix product), JFIF YCbCr→RGB. The
  encoder produces 4:4:4 baseline JPEGs with the Annex-K tables. One
  marker-segment iterator serves ``sniff_image`` and both of
  ``decode_jpeg``'s walks.

Lossless formats (PNG/BMP/GIF) round-trip bit-exactly; JPEG
round-trips within quantization tolerance (exact for DC-only uniform
blocks up to rounding). Hostile/truncated payloads raise
``ValueError`` — every walker raises it when a declared length runs
past the buffer — so corrupt-skip logic never sees internals.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "PNG_SIG",
    "sniff_image",
    "decode_image_features",
    "decode_image_pixels",
    "png_header",
    "encode_png",
    "encode_png_text",
    "probe_png_chunks",
    "decode_bmp",
    "encode_bmp",
    "decode_gif",
    "encode_gif",
    "encode_animated_gif",
    "probe_gif_animation",
    "decode_jpeg",
    "encode_jpeg",
]


# ---------------------------------------------------------------------------
# header sniffing and the pixel-decode seam

PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: PNG color type → mode string (PNG spec §11.2.2)
_PNG_MODES = {0: "L", 2: "RGB", 3: "P", 4: "LA", 6: "RGBA"}
#: JPEG SOFn markers carry frame dimensions; C4/C8/CC look like SOFs
#: but are DHT/JPG/DAC (ITU T.81 table B.1)
_JPEG_SOF = {
    m for m in range(0xC0, 0xD0) if m not in (0xC4, 0xC8, 0xCC)
}
_JPEG_MODES = {1: "L", 3: "RGB", 4: "CMYK"}


def sniff_image(payload: bytes) -> tuple[str, int, int, str] | None:
    """Parse ``(format, width, height, mode)`` from an image container
    header in pure Python — PNG IHDR, JPEG SOFn scan, GIF logical
    screen descriptor, BMP info header. Returns ``None`` if the bytes
    are not a recognized image container (never raises on truncated or
    hostile input — a 100 TB crawl corpus *will* contain both)."""
    p = bytes(payload)
    # PNG: 8-byte signature, then IHDR chunk (len + type + 13 data bytes)
    if p[:8] == PNG_SIG and len(p) >= 29 and p[12:16] == b"IHDR":
        w, h = struct.unpack_from(">II", p, 16)
        mode = _PNG_MODES.get(p[25], "RGB")
        return ("png", w, h, mode) if w > 0 and h > 0 else None
    # JPEG: SOI, then marker segments until a SOFn yields dimensions
    if p[:2] == b"\xff\xd8":
        try:
            for marker, start, end in _jpeg_segments(p, 2):
                if marker in _JPEG_SOF:
                    if end - start < 6:
                        return None
                    h, w = struct.unpack_from(">HH", p, start + 1)
                    mode = _JPEG_MODES.get(p[start + 5], "RGB")
                    return ("jpeg", w, h, mode) if w > 0 and h > 0 else None
        except ValueError:
            pass
        return None
    # GIF: 6-byte version tag then little-endian logical screen size
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        w, h = struct.unpack_from("<HH", p, 6)
        return ("gif", w, h, "P") if w > 0 and h > 0 else None
    # BMP: 'BM' + BITMAPINFOHEADER (width/height at offsets 18/22)
    if p[:2] == b"BM" and len(p) >= 26:
        w, h = struct.unpack_from("<ii", p, 18)
        return ("bmp", w, abs(h), "RGB") if w > 0 and h != 0 else None
    return None


def decode_image_features(payload: bytes) -> tuple[int, int, str]:
    """Real image header decode: dimensions + mode from the container
    header via :func:`sniff_image`. Raises ``ValueError`` for bytes
    that are not a recognized image container."""
    info = sniff_image(payload)
    if info is None:
        raise ValueError("payload is not a recognized image container")
    _, w, h, mode = info
    return w, h, mode


def decode_image_pixels(payload: bytes) -> np.ndarray:
    """Full pixel decode for EVERY container ``sniff_image``
    recognizes, in pure stdlib+numpy Python — no imaging library:
    zlib-inflated, unfiltered PNG; uncompressed BI_RGB BMP (8/24/32-
    bit, palette, row padding, both row orders); GIF87a/89a with full
    LZW and interlace; baseline sequential JPEG (SOF0) with Huffman
    decode, dequantize, IDCT, chroma upsample, restart markers.

    Returns a numpy ``uint8`` array of shape ``(height, width,
    channels)`` (palette rows expand to RGB). The per-row/per-block
    Python loops are correct and fine for fixtures and spot decodes;
    a 100 TB decode pass should swap a C-backed decoder into the same
    kernel seam (nothing else changes)."""
    info = sniff_image(payload)
    if info is None:
        raise ValueError("payload is not a recognized image container")
    decoder = {
        "png": _decode_png,
        "bmp": decode_bmp,
        "gif": decode_gif,
        "jpeg": decode_jpeg,
    }[info[0]]
    return decoder(payload)


# ---------------------------------------------------------------------------
# PNG


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    """One CRC32-sealed chunk: [len:4][type:4][body][crc:4]."""
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


def _png_chunks(p: bytes):
    """Walk the chunk stream after the signature: yields ``(type,
    body, crc)`` up to and including IEND. The walk ends quietly where
    the buffer ends inside a chunk header; a chunk whose declared
    length (with its CRC) runs past the buffer raises ``ValueError``.
    CRCs are returned, not checked."""
    i, n = len(PNG_SIG), len(p)
    while i + 8 <= n:
        ln, ctype = struct.unpack_from(">I4s", p, i)
        end = i + 8 + ln
        if end + 4 > n:
            raise ValueError(f"PNG: {ctype!r} chunk runs past the buffer")
        yield ctype, p[i + 8 : end], struct.unpack_from(">I", p, end)[0]
        if ctype == b"IEND":
            return
        i = end + 4


def png_header(w: int, h: int, color_type: int = 0) -> bytes:
    """The PNG signature and an 8-bit, non-interlaced IHDR chunk — the
    header ``sniff_image`` reads."""
    return PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">II5B", w, h, 8, color_type, 0, 0, 0)
    )


def _decode_png(payload: bytes) -> np.ndarray:
    """PNG → (h, w, channels) uint8: IDAT streams are ``zlib``-inflated
    and the per-scanline filters (PNG spec §9: None/Sub/Up/Average/
    Paeth) are undone; palette images expand through PLTE to RGB."""
    p = bytes(payload)
    width, height = struct.unpack_from(">II", p, 16)
    bit_depth, color_type = p[24], p[25]
    interlace = p[28]
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (8 only)")
    if interlace != 0:
        raise ValueError("unsupported interlaced PNG (Adam7)")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color_type}")
    idat: list[bytes] = []
    plte = b""
    for ctype, body, _ in _png_chunks(p):
        if ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"PLTE":
            plte = body
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        # hostile/truncated containers surface as the same ValueError
        # contract as every other malformed-image path — the caller's
        # corrupt-skip logic must never see raw zlib internals
        raise ValueError(f"PNG IDAT stream undecodable: {e}") from e
    stride = width * channels
    if len(raw) < height * (1 + stride):
        raise ValueError("PNG pixel data truncated")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    bpp = channels  # bytes per pixel at bit depth 8
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ftype == 3:  # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                pp = a + b - c
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                line[x] = (line[x] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    pixels = out.reshape(height, width, channels)
    if color_type == 3:  # palette → RGB through PLTE
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(pixels.max(initial=0)) >= len(pal):
            raise ValueError("PNG palette index out of range")
        pixels = pal[pixels[:, :, 0]]
    return pixels


def encode_png(pixels, color_type: int = 0) -> bytes:
    """Minimal PNG encoder (filter 0, one IDAT) for fixtures and the
    pixel-statistics oracle: ``pixels`` is a numpy uint8 array of shape
    (h, w) or (h, w, channels); colors map 1→grayscale, 2→LA, 3→RGB,
    4→RGBA. Output decodes in any PNG reader (CRCs included)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ctype = color_type or {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    scanlines = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        png_header(w, h, ctype)
        + _png_chunk(b"IDAT", zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_text(w: int, h: int, texts: list[tuple[str, str]]) -> bytes:
    """Minimal valid grayscale PNG carrying ``tEXt`` metadata chunks:
    signature, IHDR, one tEXt per (key, value), a real zlib IDAT of
    zero scanlines, IEND — every chunk CRC32-sealed."""
    raw = b"".join(b"\x00" + b"\x00" * w for _ in range(h))
    return (
        png_header(w, h)
        + b"".join(
            _png_chunk(b"tEXt", k.encode("latin-1") + b"\x00" + v.encode("latin-1"))
            for k, v in texts
        )
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def probe_png_chunks(p: bytes) -> dict:
    """Walk a PNG's chunk stream verifying EVERY chunk's CRC32 (a
    flipped bit anywhere raises — the integrity pass an asset store
    runs on ingest): returns dimensions, chunk census, total IDAT
    payload bytes, and the tEXt metadata pairs in file order."""
    p = bytes(p)
    if p[:8] != PNG_SIG:
        raise ValueError("not a PNG container")
    w = h = None
    n_chunks = 0
    idat_bytes = 0
    texts: list[tuple[str, str]] = []
    seen_end = False
    for ctype, body, crc in _png_chunks(p):
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"PNG: CRC mismatch in {ctype!r}")
        n_chunks += 1
        if ctype == b"IHDR":
            if len(body) < 8:
                raise ValueError("PNG: IHDR too short")
            w, h = struct.unpack_from(">II", body, 0)
        elif ctype == b"IDAT":
            idat_bytes += len(body)
        elif ctype == b"tEXt":
            sep = body.find(b"\x00")
            if sep < 0:
                raise ValueError("PNG: malformed tEXt")
            texts.append(
                (body[:sep].decode("latin-1"), body[sep + 1 :].decode("latin-1"))
            )
        elif ctype == b"IEND":
            seen_end = True
    if w is None or not seen_end:
        raise ValueError("PNG: missing IHDR/IEND")
    return {
        "width": w,
        "height": h,
        "n_chunks": n_chunks,
        "idat_bytes": idat_bytes,
        "texts": texts,
    }


# ---------------------------------------------------------------------------
# BMP


def decode_bmp(p: bytes) -> np.ndarray:
    """BMP → (h, w, 3) uint8 RGB. Uncompressed BI_RGB, 8 (palette) /
    24 / 32 bpp, BITMAPINFOHEADER-or-later DIB headers."""
    p = bytes(p)
    if p[:2] != b"BM" or len(p) < 54:
        raise ValueError("not a BMP container")
    data_off = struct.unpack_from("<I", p, 10)[0]
    dib = struct.unpack_from("<I", p, 14)[0]
    if dib < 40:
        raise ValueError(f"unsupported BMP DIB header size {dib}")
    w, h = struct.unpack_from("<ii", p, 18)
    top_down = h < 0
    h = abs(h)
    bpp = struct.unpack_from("<H", p, 28)[0]
    compression = struct.unpack_from("<I", p, 30)[0]
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression}")
    if w <= 0 or h <= 0:
        raise ValueError("degenerate BMP dimensions")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    stride = (w * bpp // 8 + 3) & ~3  # rows pad to 4 bytes
    if len(p) < data_off + stride * h:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(p, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = rows.reshape(h, stride)
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        clr_used = struct.unpack_from("<I", p, 46)[0] or 256
        pal_off = 14 + dib
        pal = np.frombuffer(
            p, dtype=np.uint8, count=clr_used * 4, offset=pal_off
        ).reshape(clr_used, 4)[:, :3][:, ::-1]  # BGRA → RGB
        idx = rows[:, :w]
        if int(idx.max(initial=0)) >= clr_used:
            raise ValueError("BMP palette index out of range")
        return np.ascontiguousarray(pal[idx])
    nch = bpp // 8
    px = rows[:, : w * nch].reshape(h, w, nch)
    return np.ascontiguousarray(px[:, :, 2::-1])  # BGR(A) → RGB, drop alpha


def encode_bmp(pixels) -> bytes:
    """(h, w[, 3]) uint8 → 24-bit bottom-up BI_RGB BMP bytes."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    raw = body.tobytes()
    header = b"BM" + struct.pack("<IHHI", 54 + len(raw), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raw), 2835, 2835, 0, 0)
    return header + dib + raw


# ---------------------------------------------------------------------------
# GIF

_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_screen_header(w: int, h: int, palette) -> tuple[bytes, int]:
    """GIF89a signature, logical screen descriptor and global color
    table (``palette`` zero-padded to a power of two) → (header bytes,
    LZW minimum code size)."""
    pal = np.asarray(palette, dtype=np.uint8)
    n = len(pal)
    if n > 256:
        # the descriptor's 3-bit size field tops out at 2**8 entries
        raise ValueError(f"GIF palette of {n} colors exceeds 256")
    size_field = max(1, (n - 1).bit_length() - 1) if n > 2 else 0
    table_n = 2 << size_field
    if n > table_n:
        raise ValueError("palette larger than color table size")
    pal_full = np.zeros((table_n, 3), dtype=np.uint8)
    pal_full[:n] = pal
    header = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (size_field & 7), 0, 0)
        + pal_full.tobytes()
    )
    return header, max(2, size_field + 1)


def _gif_lzw_pack(values, min_code_size: int) -> bytes:
    """Spec-valid LZW stream of (CLEAR, literal) pairs ending in EOI:
    codes never exceed min_code_size+1 bits — larger than optimal but
    decodable by any reader, with no table bookkeeping."""
    clear = 1 << min_code_size
    width = min_code_size + 1
    acc = 0
    nbits = 0
    body = bytearray()
    for v in list(values) + [None]:
        codes = (clear + 1,) if v is None else (clear, int(v))
        for c in codes:
            acc |= c << nbits
            nbits += width
            while nbits >= 8:
                body.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
    if nbits:
        body.append(acc & 0xFF)
    return bytes(body)


def _gif_sub_blocks(data: bytes) -> bytes:
    """``data`` as length-prefixed sub-blocks of at most 255 bytes,
    then the 0x00 block terminator."""
    out = bytearray()
    for off in range(0, len(data), 255):
        chunk = data[off : off + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def _gif_image(indexed: np.ndarray, min_code_size: int) -> bytes:
    """Image descriptor (full screen, no local table) + LZW data."""
    h, w = indexed.shape
    return (
        b"\x2c"
        + struct.pack("<HHHHBB", 0, 0, w, h, 0, min_code_size)
        + _gif_sub_blocks(_gif_lzw_pack(indexed.reshape(-1).tolist(), min_code_size))
    )


def _gif_screen(p: bytes) -> tuple[int, int, bytes, int]:
    """Signature + logical screen descriptor → (width, height, global
    color table bytes (empty when absent), offset of the first block)."""
    if p[:6] not in (b"GIF87a", b"GIF89a") or len(p) < 13:
        raise ValueError("not a GIF container")
    w, h, flags = struct.unpack_from("<HHB", p, 6)
    end = 13 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
    if end > len(p):
        raise ValueError("GIF: global color table runs past the buffer")
    return w, h, p[13:end], end


def _gif_blocks(p: bytes, i: int):
    """Walk the block stream from offset ``i`` to the trailer: yields
    ``(0x21, label, sub_blocks)`` per extension and ``(0x2C, head,
    sub_blocks)`` per image, where ``head`` is the 9-byte image
    descriptor, its local color table and the LZW minimum code size
    byte. A truncated head, a sub-block whose length runs past the
    buffer, or a missing trailer raises ``ValueError``."""
    n = len(p)

    def sub_blocks(j: int) -> tuple[list[bytes], int]:
        subs = []
        while j < n:
            ln = p[j]
            j += 1
            if ln == 0:
                return subs, j
            if j + ln > n:
                raise ValueError("GIF: sub-block runs past the buffer")
            subs.append(p[j : j + ln])
            j += ln
        return subs, j  # cut at the terminator: the trailer check fails

    while True:
        if i >= n:
            raise ValueError("GIF: missing trailer")
        block = p[i]
        i += 1
        if block == 0x3B:
            return
        if block == 0x21:
            if i >= n:
                raise ValueError("GIF: truncated extension")
            label = p[i]
            subs, i = sub_blocks(i + 1)
            yield block, label, subs
        elif block == 0x2C:
            if i + 9 > n:
                raise ValueError("GIF: truncated image descriptor")
            flags = p[i + 8]
            end = i + 10 + (3 * (2 << (flags & 7)) if flags & 0x80 else 0)
            if end > n:
                raise ValueError("GIF: truncated image data")
            head = p[i:end]
            subs, i = sub_blocks(end)
            yield block, head, subs
        else:
            raise ValueError(f"GIF: unknown block 0x{block:02x}")


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytearray:
    """GIF-flavor LZW: LSB-first bit packing, variable code width
    starting at min_code_size+1, CLEAR resets the table, EOI ends."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    # table as list of bytes; rebuilt on CLEAR
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError("GIF LZW: first code not a literal")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW: code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= n_pixels:
                return out
    return out


def decode_gif(p: bytes) -> np.ndarray:
    """GIF → (h, w, 3) uint8 RGB of the FIRST image frame (the
    still-image contract; animation frames are out of scope)."""
    p = bytes(p)
    _, _, gct, i = _gif_screen(p)
    for block, head, subs in _gif_blocks(p, i):
        if block != 0x2C:
            continue
        _, _, w, h, flags = struct.unpack_from("<HHHHB", head)
        pal = np.frombuffer(head[9:-1] or gct, dtype=np.uint8).reshape(-1, 3)
        if not len(pal):
            raise ValueError("GIF image has no color table")
        if w == 0 or h == 0:
            raise ValueError("degenerate GIF dimensions")
        idx_bytes = _lzw_decode(head[-1], b"".join(subs), w * h)
        if len(idx_bytes) < w * h:
            raise ValueError("GIF pixel data truncated")
        idx = np.frombuffer(bytes(idx_bytes[: w * h]), dtype=np.uint8).reshape(h, w)
        if flags & 0x40:  # interlaced: rows stored in 4 passes
            ordered = np.empty_like(idx)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                for y in range(start, h, step):
                    ordered[y] = idx[src]
                    src += 1
            idx = ordered
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("GIF palette index out of range")
        return np.ascontiguousarray(pal[idx])
    raise ValueError("GIF contains no image frame")


def encode_gif(indexed, palette) -> bytes:
    """(h, w) uint8 index array + (n, 3) palette → GIF89a bytes."""
    idx = np.asarray(indexed, dtype=np.uint8)
    h, w = idx.shape
    header, min_code_size = _gif_screen_header(w, h, palette)
    return header + _gif_image(idx, min_code_size) + b"\x3b"


def encode_animated_gif(frames, palette, delays_cs, loops: int = 0) -> bytes:
    """List of (h, w) uint8 index arrays + shared global palette +
    per-frame delays (centiseconds) → animated GIF89a: NETSCAPE 2.0
    looping application extension, one Graphic Control Extension per
    frame carrying its delay, then the image descriptor + LZW data."""
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames or len(frames) != len(delays_cs):
        raise ValueError("frames/delays mismatch")
    h, w = frames[0].shape
    header, min_code_size = _gif_screen_header(w, h, palette)
    out = bytearray(header)
    # NETSCAPE 2.0 looping extension (loops=0 ⇒ forever)
    out += b"\x21\xff\x0bNETSCAPE2.0" + _gif_sub_blocks(b"\x01" + struct.pack("<H", loops))
    for frame, delay in zip(frames, delays_cs):
        if frame.shape != (h, w):
            raise ValueError("all frames must share the logical screen size")
        out += b"\x21\xf9" + _gif_sub_blocks(
            b"\x00" + struct.pack("<H", int(delay)) + b"\x00"
        )
        out += _gif_image(frame, min_code_size)
    out += b"\x3b"
    return bytes(out)


def probe_gif_animation(p: bytes) -> dict:
    """Walk a GIF's block stream WITHOUT decoding pixels: count image
    frames, sum Graphic-Control delays, and read the NETSCAPE loop
    count — the animation-index pass a media catalog runs per asset.
    Raises ``ValueError`` on malformed/truncated block structure."""
    p = bytes(p)
    w, h, _, i = _gif_screen(p)
    n_frames = 0
    total_delay_cs = 0
    loops = None
    pending_delay = 0
    for block, head, subs in _gif_blocks(p, i):
        if block == 0x2C:
            n_frames += 1
            total_delay_cs += pending_delay
            pending_delay = 0
        elif head == 0xF9:  # Graphic Control Extension
            if len(subs) != 1 or len(subs[0]) != 4:
                raise ValueError("GIF: malformed GCE")
            pending_delay = struct.unpack_from("<H", subs[0], 1)[0]
        elif head == 0xFF and subs[:1] == [b"NETSCAPE2.0"]:
            if len(subs) < 2 or len(subs[1]) != 3 or subs[1][0] != 1:
                raise ValueError("GIF: malformed NETSCAPE block")
            loops = struct.unpack_from("<H", subs[1], 1)[0]
    if n_frames == 0:
        raise ValueError("GIF: no image frames")
    return {
        "width": w,
        "height": h,
        "n_frames": n_frames,
        "total_delay_cs": total_delay_cs,
        "loops": loops,
    }


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT)

_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

#: orthonormal 8×8 DCT-II matrix: IDCT is C.T @ block @ C
_DCT_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8))
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

#: Annex K.1/K.2 quantization tables (quality ~50 reference)
_STD_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
_STD_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)


def _huff_decode_table(bits, huffval):
    """(bits, values) → {(length, code): value} plus min/max code per
    length for canonical Huffman decoding."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data with 0xFF00
    byte-stuffing removal and restart-marker awareness.

    Truncation is an ERROR, not garbage pixels: ``_fill`` keeps a
    count of synthetic pad bits it appends past end-of-data / EOI /
    an unconsumed restart marker, and ``bit()`` raises ``ValueError``
    the moment decode would CONSUME one — so a hostile or truncated
    entropy stream surfaces through the module's corrupt-skip
    contract instead of silently decoding to noise. (A valid stream
    never trips this: its byte-alignment 1-fill lives in real bytes,
    and decode of the final MCU ends before any synthetic pad is
    read.)"""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.pad_bits = 0  # synthetic bits in the LOW end of acc

    def _fill(self):
        while self.nbits <= 24:
            if self.pos >= len(self.data):
                self.acc = (self.acc << 8) | 0  # pad: spec allows 1-fill/0-pad
                self.nbits += 8
                self.pad_bits += 8
                continue
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 2  # stuffed 0xFF data byte
                elif 0xD0 <= nxt <= 0xD7:
                    # restart marker: caller resyncs via sync_restart()
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    self.pad_bits += 8
                    continue
                else:
                    # EOI or other marker: real data ends here; any
                    # consumption of these pad bits means truncation
                    self.acc = (self.acc << 8) | 0
                    self.nbits += 8
                    self.pad_bits += 8
                    continue
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        if self.nbits < self.pad_bits:
            raise ValueError(
                "JPEG: truncated entropy stream (decode ran past "
                "end of scan data)"
            )
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def sync_restart(self):
        """Skip to just past the next RSTn marker and reset bit state."""
        self.acc = 0
        self.nbits = 0
        self.pad_bits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("JPEG: expected restart marker")


def _huff_read(reader: _BitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("JPEG: invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """DIFF/coefficient sign extension (spec F.2.2.1 EXTEND)."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _jpeg_segments(p: bytes, i: int):
    """Walk marker segments from offset ``i``: yields ``(marker, start,
    end)`` with the segment payload at ``p[start:end]`` (empty for the
    standalone markers TEM, RSTn, SOI and EOI). 0xFF fill bytes are
    skipped; the walk ends after EOI, or quietly where the buffer ends
    inside a marker or length field. A byte other than 0xFF where a
    marker must start, a length below 2, or a segment running past
    the buffer raises ``ValueError``."""
    n = len(p)
    while i + 1 < n:
        if p[i] != 0xFF:
            raise ValueError("JPEG: marker desync")
        marker = p[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        i += 2
        if marker == 0x01 or 0xD0 <= marker <= 0xD9:
            yield marker, i, i
            if marker == 0xD9:
                return
            continue
        if i + 2 > n:
            return
        seglen = (p[i] << 8) | p[i + 1]
        if seglen < 2 or i + seglen > n:
            raise ValueError(f"JPEG: segment 0x{marker:02x} runs past the buffer")
        yield marker, i + 2, i + seglen
        i += seglen


def decode_jpeg(p: bytes) -> np.ndarray:
    """Baseline JPEG → (h, w, channels) uint8: channels=1 for
    grayscale scans, 3 (RGB) for YCbCr."""
    p = bytes(p)
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG container")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → table
    comps: list[dict] = []
    w = h = 0
    restart_interval = 0
    scan_comps: list[dict] = []
    data_start = -1
    for marker, start, data_end in _jpeg_segments(p, 2):
        seg = p[start:data_end]
        if marker == 0xDB:  # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0x0F
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                tbl = np.frombuffer(seg, dtype=np.uint8, count=64, offset=j + 1)
                zz = np.zeros(64, dtype=np.int64)
                zz[_ZIGZAG] = tbl
                qt[tq] = zz.reshape(8, 8)
                j += 65
        elif marker == 0xC0:  # SOF0 baseline
            if len(seg) < 6 or len(seg) < 6 + 3 * seg[5]:
                raise ValueError("JPEG: SOF0 segment truncated")
            if seg[0] != 8:
                raise ValueError("JPEG: only 8-bit precision")
            h, w = struct.unpack_from(">HH", seg, 1)
            n = seg[5]
            comps = []
            for c in range(n):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("JPEG: only baseline sequential (SOF0) supported")
        elif marker == 0xC4:  # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0x0F
                bits = list(seg[j + 1 : j + 17])
                nval = sum(bits)
                if j + 17 + nval > len(seg):
                    raise ValueError("JPEG: DHT code counts run past the segment")
                vals = list(seg[j + 17 : j + 17 + nval])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                j += 17 + nval
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError("JPEG: DRI segment truncated")
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            if not seg or len(seg) < 1 + 2 * seg[0]:
                raise ValueError("JPEG: SOS segment truncated")
            scan_comps = []
            for c in range(seg[0]):
                cs, tda = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next((cc for cc in comps if cc["id"] == cs), None)
                if comp is None:
                    raise ValueError(f"JPEG: scan names undeclared component {cs}")
                scan_comps.append(
                    {**comp, "dc": tda >> 4, "ac": tda & 0x0F}
                )
            data_start = data_end
            break
    if not scan_comps or data_start < 0 or w == 0 or h == 0:
        raise ValueError("JPEG: missing SOF/SOS")
    for c in scan_comps:
        if c["h"] == 0 or c["v"] == 0:
            raise ValueError("JPEG: zero sampling factor")
        if (0, c["dc"]) not in huff or (1, c["ac"]) not in huff or c["tq"] not in qt:
            raise ValueError("JPEG: scan uses an undefined DQT/DHT table")
    hmax = max(c["h"] for c in scan_comps)
    vmax = max(c["v"] for c in scan_comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {
        c["id"]: np.zeros(
            (mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64
        )
        for c in scan_comps
    }
    reader = _BitReader(p[data_start:])
    pred = {c["id"]: 0 for c in scan_comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart()
                pred = {c["id"]: 0 for c in scan_comps}
            for c in scan_comps:
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        t = _huff_read(reader, huff[(0, c["dc"])])
                        diff = _extend(reader.bits(t), t) if t else 0
                        pred[c["id"]] += diff
                        if not -(1 << 63) <= pred[c["id"]] < (1 << 63):
                            raise ValueError("JPEG: DC predictor overflows int64")
                        zz[0] = pred[c["id"]]
                        k = 1
                        ac = huff[(1, c["ac"])]
                        while k < 64:
                            rs = _huff_read(reader, ac)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            zz[k] = _extend(reader.bits(s), s)
                            k += 1
                        blk = np.zeros(64, dtype=np.int64)
                        blk[_ZIGZAG] = zz
                        blk = blk.reshape(8, 8) * qt[c["tq"]]
                        spatial = _DCT_C.T @ blk @ _DCT_C + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[c["id"]][y0 : y0 + 8, x0 : x0 + 8] = spatial
            mcu_count += 1
    # Multi-scan baseline (a second SOS after this scan's data) would
    # silently return a partial image. Byte-stuffing only protects
    # ENTROPY bytes — a COM/APPn payload between the scan and EOI may
    # legally contain 0xFFDA — so the check WALKS the marker segments
    # (skipping each by its declared length) rather than substring-
    # searching the raw tail: first skip residual entropy up to the
    # first real marker (0xFF followed by neither 0x00 nor RSTn), then
    # follow segment lengths until EOI (trailing bytes beyond it are
    # ignored). A torn trailer ends the check: the image itself
    # decoded fully.
    j = data_start + reader.pos
    while j + 1 < len(p) and not (
        p[j] == 0xFF and p[j + 1] != 0x00 and not (0xD0 <= p[j + 1] <= 0xD7)
    ):
        j += 1
    try:
        second_scan = any(m == 0xDA for m, _, _ in _jpeg_segments(p, j))
    except ValueError:
        second_scan = False
    if second_scan:
        raise ValueError("JPEG: multi-scan baseline files unsupported")
    out_planes = []
    for c in scan_comps:
        pl = planes[c["id"]]
        # chroma upsample by pixel replication to full resolution
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        out_planes.append(pl[:h, :w])
    if len(out_planes) == 2:
        raise ValueError("JPEG: two-component scans unsupported")
    if len(out_planes) == 1:
        g = np.clip(np.rint(out_planes[0]), 0, 255).astype(np.uint8)
        return g[:, :, None]
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _huff_encode_table(bits, huffval):
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, length: int, code: int):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.nbits = 0

    def flush(self):
        while self.nbits:
            self.write(1, 1)  # 1-fill padding per spec

    def restart(self, n: int):
        """Byte-align and emit RSTn (n in 0..7)."""
        self.flush()
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def encode_jpeg(pixels, subsample: str = "444", restart_interval: int = 0) -> bytes:
    """(h, w) or (h, w, 3) uint8 → baseline JPEG with the Annex-K
    quantization and Huffman tables (≈ quality 50). ``subsample`` is
    ``"444"`` or ``"420"`` (2×2-averaged chroma, 16×16 MCUs);
    ``restart_interval`` > 0 emits DRI + RSTn markers every that many
    MCUs — both exist chiefly so the DECODER's MCU/upsample/restart
    paths are testable without an imaging library."""
    px = np.asarray(pixels, dtype=np.uint8)
    gray = px.ndim == 2 or px.shape[2] == 1
    if px.ndim == 3 and px.shape[2] == 1:
        px = px[:, :, 0]
    h, w = px.shape[:2]
    if subsample not in ("444", "420"):
        raise ValueError("subsample must be '444' or '420'")
    sub420 = subsample == "420" and not gray
    if gray:
        planes = [px.astype(np.float64)]
        qts = [_STD_QT_LUMA.reshape(8, 8)]
        comp_spec = [(1, 0x11, 0)]
    else:
        rf = px[:, :, 0].astype(np.float64)
        gf = px[:, :, 1].astype(np.float64)
        bf = px[:, :, 2].astype(np.float64)
        y = 0.299 * rf + 0.587 * gf + 0.114 * bf
        cb = -0.168736 * rf - 0.331264 * gf + 0.5 * bf + 128.0
        cr = 0.5 * rf - 0.418688 * gf - 0.081312 * bf + 128.0
        if sub420:
            # pad to even dims by edge replication, then 2×2 mean
            ph, pw = (h + 1) & ~1, (w + 1) & ~1
            def down(p):
                full = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
                return full.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cb, cr = down(cb), down(cr)
            comp_spec = [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)]
        else:
            comp_spec = [(1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)]
        planes = [y, cb, cr]
        qts = [
            _STD_QT_LUMA.reshape(8, 8),
            _STD_QT_CHROMA.reshape(8, 8),
            _STD_QT_CHROMA.reshape(8, 8),
        ]
    dc_tabs = [
        _huff_encode_table(*_STD_DC_LUMA),
        _huff_encode_table(*_STD_DC_CHROMA),
    ]
    ac_tabs = [
        _huff_encode_table(*_STD_AC_LUMA),
        _huff_encode_table(*_STD_AC_CHROMA),
    ]
    hs = [spec[1] >> 4 for spec in comp_spec]
    vs = [spec[1] & 0x0F for spec in comp_spec]
    hmax, vmax = max(hs), max(vs)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # pad every plane to whole-MCU coverage by edge replication
    padded = []
    for ci, plane in enumerate(planes):
        th, tw = mcuy * vs[ci] * 8, mcux * hs[ci] * 8
        ph, pw = plane.shape
        padded.append(
            np.pad(plane, ((0, th - ph), (0, tw - pw)), mode="edge")
        )

    def encode_block(bw, blk, ci, pred):
        coef = _DCT_C @ (blk - 128.0) @ _DCT_C.T
        q = np.rint(coef / qts[min(ci, len(qts) - 1)]).astype(np.int64)
        zz = q.reshape(-1)[_ZIGZAG]
        tsel = 0 if ci == 0 else 1
        diff = int(zz[0]) - pred[ci]
        pred[ci] = int(zz[0])
        t = abs(diff).bit_length()
        length, code = dc_tabs[tsel][t]
        bw.write(length, code)
        if t:
            bw.write(t, diff if diff >= 0 else diff + (1 << t) - 1)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                length, code = ac_tabs[tsel][0xF0]
                bw.write(length, code)
                run -= 16
            s = abs(v).bit_length()
            length, code = ac_tabs[tsel][(run << 4) | s]
            bw.write(length, code)
            bw.write(s, v if v >= 0 else v + (1 << s) - 1)
            run = 0
        if run:
            length, code = ac_tabs[tsel][0x00]  # EOB
            bw.write(length, code)

    bw = _BitWriter()
    pred = [0] * len(planes)
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.restart(rst)
                rst = (rst + 1) & 7
                pred = [0] * len(planes)
            for ci, plane in enumerate(padded):
                for by in range(vs[ci]):
                    for bx in range(hs[ci]):
                        y0 = (my * vs[ci] + by) * 8
                        x0 = (mx * hs[ci] + bx) * 8
                        encode_block(
                            bw, plane[y0 : y0 + 8, x0 : x0 + 8], ci, pred
                        )
            mcu_count += 1
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return b"\xff" + bytes([marker]) + struct.pack(">H", len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    zz_l = _STD_QT_LUMA.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
    out += seg(0xDB, b"\x00" + zz_l)
    if not gray:
        zz_c = _STD_QT_CHROMA.reshape(-1)[_ZIGZAG].astype(np.uint8).tobytes()
        out += seg(0xDB, b"\x01" + zz_c)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([len(comp_spec)])
    for cid, hv, tq in comp_spec:
        sof += bytes([cid, hv, tq])
    out += seg(0xC0, sof)

    def dht(tc, th, tab):
        bits, vals = tab
        return seg(0xC4, bytes([tc << 4 | th]) + bytes(bits) + bytes(vals))

    out += dht(0, 0, _STD_DC_LUMA) + dht(1, 0, _STD_AC_LUMA)
    if not gray:
        out += dht(0, 1, _STD_DC_CHROMA) + dht(1, 1, _STD_AC_CHROMA)
    sos = bytes([len(comp_spec)])
    for ci, (cid, _, _) in enumerate(comp_spec):
        tsel = 0 if ci == 0 else 1
        sos += bytes([cid, tsel << 4 | tsel])
    sos += bytes([0, 63, 0])
    out += seg(0xDA, sos)
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
