"""Pure stdlib+numpy media-container codecs: WAV (RIFF PCM), MP4
(ISO-BMFF box tree), TIFF/EXIF IFD metadata and ID3v2.3 tags.

The audio/video/metadata counterpart of ``functions/imaging.py`` (which
owns every image format): these give ``operators/multimodal.py``'s
operators REAL container parsing — byte-level RIFF chunk walking, ISO
base-media box recursion, a TIFF IFD entry walker and an ID3 frame
walker — with matching minimal encoders so fixtures and oracle queries
can synthesize valid container bytes deterministically (the same
pattern the image formats use). Decoders raise ``ValueError`` on
malformed/truncated input — the corrupt-skip contract — and never an
internal struct/index error.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "decode_wav",
    "encode_wav",
    "probe_mp4",
    "encode_mp4",
    "decode_tiff_tags",
    "encode_tiff",
    "encode_id3v2",
    "probe_id3v2",
]


# ---------------------------------------------------------------------------
# WAV (RIFF, PCM16)


def decode_wav(p: bytes) -> tuple[int, int, np.ndarray]:
    """RIFF/WAVE PCM → (sample_rate, channels, samples int16 ndarray
    of shape (n_frames, channels)). Walks chunks properly (fmt /data
    in any order, unknown chunks skipped, word-aligned sizes)."""
    p = bytes(p)
    if len(p) < 12 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    i = 12
    fmt = None
    data = None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = struct.unpack_from("<I", p, i + 4)[0]
        body = p[i + 8 : i + 8 + size]
        if len(body) < size:
            raise ValueError("WAV chunk truncated")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("WAV fmt chunk too short")
    audio_format, channels, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format != 1 or bits != 16:
        raise ValueError(f"unsupported WAV encoding (fmt={audio_format}, bits={bits})")
    if channels < 1:
        raise ValueError("WAV channel count must be >= 1")
    frame = 2 * channels
    usable = len(data) - len(data) % frame
    samples = np.frombuffer(data, dtype="<i2", count=usable // 2).reshape(
        -1, channels
    )
    return rate, channels, samples


def encode_wav(samples, rate: int) -> bytes:
    """(n,) or (n, channels) int16 → RIFF/WAVE PCM16 bytes."""
    s = np.asarray(samples, dtype="<i2")
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    data = s.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * 2 * channels, 2 * channels, 16
    )
    body = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


# ---------------------------------------------------------------------------
# MP4 / ISO base media


_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts"}


def _walk_boxes(p: bytes, start: int, end: int, out: list, depth: int = 0):
    i = start
    while i + 8 <= end:
        size = struct.unpack_from(">I", p, i)[0]
        btype = p[i + 4 : i + 8]
        if size == 1:  # 64-bit largesize
            if i + 16 > end:
                raise ValueError("MP4 largesize truncated")
            size = struct.unpack_from(">Q", p, i + 8)[0]
            hdr = 16
        elif size == 0:  # to end of enclosing box
            size = end - i
            hdr = 8
        else:
            hdr = 8
        if size < hdr or i + size > end:
            raise ValueError("MP4 box overruns container")
        out.append((depth, btype, i + hdr, i + size))
        if btype in _MP4_CONTAINERS:
            _walk_boxes(p, i + hdr, i + size, out, depth + 1)
        i += size


def probe_mp4(p: bytes) -> dict:
    """ISO-BMFF probe: brand, movie timescale/duration (mvhd v0/v1),
    and track count — the fields a lake's media-catalog pass indexes
    before any frame decode."""
    p = bytes(p)
    if len(p) < 12 or p[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF (MP4) container")
    boxes: list = []
    _walk_boxes(p, 0, len(p), boxes)
    brand = p[8:12].decode("latin-1")
    timescale = duration = None
    n_tracks = 0
    for _, btype, b0, b1 in boxes:
        if btype == b"mvhd":
            # the corrupt-skip contract: a short mvhd BODY must raise
            # ValueError, never struct.error/IndexError — and a bounds
            # check against b1 (the box's own end) also stops
            # unpack_from silently reading into the NEXT box's bytes
            if b1 - b0 < 1:
                raise ValueError("MP4 mvhd truncated")
            ver = p[b0]
            need = 32 if ver == 1 else 20
            if b1 - b0 < need:
                raise ValueError("MP4 mvhd truncated")
            if ver == 1:
                timescale = struct.unpack_from(">I", p, b0 + 20)[0]
                duration = struct.unpack_from(">Q", p, b0 + 24)[0]
            else:
                timescale = struct.unpack_from(">I", p, b0 + 12)[0]
                duration = struct.unpack_from(">I", p, b0 + 16)[0]
        elif btype == b"trak":
            n_tracks += 1
    if timescale is None:
        raise ValueError("MP4 missing mvhd")
    return {
        "brand": brand,
        "timescale": timescale,
        "duration": duration,
        "n_tracks": n_tracks,
    }


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def encode_mp4(timescale: int, duration: int, n_tracks: int,
               brand: str = "isom") -> bytes:
    """Minimal valid ISO-BMFF: ftyp + moov(mvhd v0 + n_tracks empty
    trak(tkhd) boxes). Enough structure for any box-walking prober."""
    ftyp = _box(b"ftyp", brand.encode("latin-1") + struct.pack(">I", 0x200))
    mvhd_body = (
        b"\x00\x00\x00\x00"          # version 0 + flags
        + struct.pack(">II", 0, 0)   # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)      # volume 1.0
        + b"\x00" * 10
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24
        + struct.pack(">I", n_tracks + 1)  # next_track_ID
    )
    traks = b"".join(
        _box(b"trak", _box(b"tkhd", b"\x00\x00\x00\x07" + b"\x00" * 80))
        for _ in range(n_tracks)
    )
    return ftyp + _box(b"moov", _box(b"mvhd", mvhd_body) + traks)


# ---------------------------------------------------------------------------
# TIFF / EXIF IFD

#: TIFF field types → byte widths (the ones the walker needs)
_TIFF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def decode_tiff_tags(p: bytes) -> dict[int, int | bytes]:
    """TIFF header + IFD0 walk → {tag: value} for inline SHORT/LONG
    values (the EXIF-metadata shape: Orientation 0x0112, ImageWidth
    0x0100, ImageLength 0x0101, ...). Handles both byte orders; out-
    of-line values return the raw offset (callers needing them deref
    with the byte order returned implicitly by tag width)."""
    p = bytes(p)
    if len(p) < 8:
        raise ValueError("not a TIFF container")
    if p[:4] == b"II\x2a\x00":
        bo = "<"
    elif p[:4] == b"MM\x00\x2a":
        bo = ">"
    else:
        raise ValueError("not a TIFF container")
    ifd_off = struct.unpack_from(bo + "I", p, 4)[0]
    if ifd_off + 2 > len(p):
        raise ValueError("TIFF IFD offset out of range")
    n = struct.unpack_from(bo + "H", p, ifd_off)[0]
    tags: dict[int, int | bytes] = {}
    for k in range(n):
        e = ifd_off + 2 + 12 * k
        if e + 12 > len(p):
            raise ValueError("TIFF IFD entry truncated")
        tag, ftype = struct.unpack_from(bo + "HH", p, e)
        count = struct.unpack_from(bo + "I", p, e + 4)[0]
        width = _TIFF_TYPE_SIZE.get(ftype)
        if width is None or count * width > 4:
            # out-of-line or unknown: surface the raw 4 value bytes
            tags[tag] = p[e + 8 : e + 12]
            continue
        if ftype == 3:  # SHORT
            tags[tag] = struct.unpack_from(bo + "H", p, e + 8)[0]
        elif ftype == 4:  # LONG
            tags[tag] = struct.unpack_from(bo + "I", p, e + 8)[0]
        else:
            tags[tag] = p[e + 8 : e + 8 + count * width]
    return tags


def encode_tiff(tags: dict[int, tuple[int, int]], big_endian: bool = False) -> bytes:
    """{tag: (type, int_value)} → minimal TIFF with one IFD, inline
    values only (type 3 SHORT / 4 LONG)."""
    bo = ">" if big_endian else "<"
    head = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + struct.pack(
        bo + "I", 8
    )
    entries = b""
    for tag in sorted(tags):
        ftype, val = tags[tag]
        if ftype == 3:
            packed = struct.pack(bo + "H", val) + b"\x00\x00"
        elif ftype == 4:
            packed = struct.pack(bo + "I", val)
        else:
            raise ValueError("encode_tiff supports SHORT/LONG only")
        entries += struct.pack(bo + "HHI", tag, ftype, 1) + packed
    return (
        head
        + struct.pack(bo + "H", len(tags))
        + entries
        + struct.pack(bo + "I", 0)  # no next IFD
    )


# ---------------------------------------------------------------------------
# MP3 / ID3v2.3 tag container


def _synchsafe(n: int) -> bytes:
    """28-bit synchsafe size (7 bits per byte, MSB clear) — the ID3v2
    header's length encoding."""
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


def _unsynchsafe(b: bytes) -> int:
    if any(x & 0x80 for x in b):
        raise ValueError("ID3: non-synchsafe size byte")
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def encode_id3v2(frames: list[tuple[str, str]], padding: int = 16) -> bytes:
    """ID3v2.3 tag: header with synchsafe total size + one text frame
    per (id, value) — encoding byte 0x00 (latin-1), plain 32-bit frame
    sizes per the 2.3 spec — followed by zero padding."""
    body = b""
    for fid, text in frames:
        if len(fid) != 4:
            raise ValueError("ID3 frame id must be 4 chars")
        payload = b"\x00" + text.encode("latin-1")
        body += fid.encode("latin-1") + struct.pack(">I", len(payload)) + b"\x00\x00" + payload
    body += b"\x00" * padding
    return b"ID3\x03\x00\x00" + _synchsafe(len(body)) + body


def probe_id3v2(p: bytes) -> dict:
    """Walk an ID3v2.3 tag's frame list WITHOUT any audio decode:
    frame census + text-frame extraction (the music-catalog metadata
    pass). Raises ``ValueError`` on malformed/truncated structure —
    the corrupt-skip contract."""
    p = bytes(p)
    if p[:3] != b"ID3" or len(p) < 10:
        raise ValueError("not an ID3v2 container")
    if p[3] != 3:
        raise ValueError("ID3: only v2.3 supported")
    if p[5] != 0:
        # unsynchronisation / extended header / experimental flags
        # change the body layout: walking anyway would emit phantom
        # frames with control-character ids
        raise ValueError("ID3: header flags unsupported")
    size = _unsynchsafe(p[6:10])
    if 10 + size > len(p):
        raise ValueError("ID3: truncated tag body")
    i = 10
    end = 10 + size
    frames: list[tuple[str, str]] = []
    while i + 10 <= end:
        fid = p[i : i + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        fsize = struct.unpack_from(">I", p, i + 4)[0]
        if i + 10 + fsize > end:
            raise ValueError("ID3: frame overruns tag")
        payload = p[i + 10 : i + 10 + fsize]
        if fid[:1] == b"T" and payload[:1] == b"\x00":
            frames.append(
                (fid.decode("latin-1"), payload[1:].decode("latin-1"))
            )
        else:
            frames.append((fid.decode("latin-1"), ""))
        i += 10 + fsize
    # everything after the last frame must be zero padding: a torn
    # final frame header (1-9 junk bytes) is structural corruption,
    # not padding
    if any(p[i:end]):
        raise ValueError("ID3: non-padding bytes after last frame")
    return {"version": 3, "tag_bytes": 10 + size, "frames": frames}
