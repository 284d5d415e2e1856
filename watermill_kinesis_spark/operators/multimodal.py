"""Multimodal columns: opaque ``binary`` payloads + typed metadata
(north-star LLM-pipeline layer).

This is the reference's own data model scaled up: a Watermill message
payload is opaque bytes with a string→string metadata map
(marshaller.go:42-49), and that is exactly how a 100 TB multimodal lake
stores images/audio/video — a binary column plus typed metadata, decoded
only at the edge of the pipeline.

Decoding: container *headers* (PNG IHDR, JPEG SOFn, GIF screen
descriptor, BMP info header) are parsed in pure Python — no Pillow
needed — so ``decode_image_features`` extracts real dimensions from
real image bytes. *Pixels* decode in pure stdlib+numpy Python for
EVERY recognized container (``decode_image_pixels``): PNG here (zlib
IDAT inflate + all five scanline unfilters + palette expansion), and
BMP / GIF-LZW / baseline-JPEG in ``functions/imaging.py`` (Huffman +
IDCT + chroma upsample for JPEG) — all round-trip-tested, the
lossless three oracle-verified. Payloads that aren't a recognized
image container fall back to a deterministic fake decoder (the test
seam). Everything around the kernels — the binary column handling,
the metadata map, the Arrow batch shape through ``mapInPandas``, the
partitioning — is real and tested.

Audio (WAV), video (MP4) and image metadata (TIFF/EXIF) follow the same
verification shape: each document synthesizes a REAL container
(``functions/containers.py`` encoders) whose contents derive
arithmetically from ``doc_id``, the REAL byte-level parser decodes it
inside an Arrow-batched ``mapInPandas`` kernel, and the DuckDB oracle
recomputes the expected values from the same arithmetic — so the RIFF
chunk walker, the ISO-BMFF box recursion and the TIFF IFD walker are
verified value-exactly on every row. Each is one Arrow pass, zero
shuffle, linear at 100 TB; on a real lake the synth step is replaced
by stored payload bytes and the kernel seam is unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

#: schema of a multimodal asset row — payload is opaque, metadata typed
ASSET_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("meta", MapType(StringType(), StringType())),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
        StructField("decoder", StringType()),
    ]
)


def assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → multimodal asset rows: utf-8 payload bytes + a
    metadata map carrying mime/source/lang (mirrors the reference's
    metadata keys, marshaller.go:12-14)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(
            F.lit("mime"), F.lit("text/plain"),
            F.lit("source"), F.col("source"),
            F.lit("lang"), F.col("lang"),
        ).alias("meta"),
    )


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
        w = int.from_bytes(p[16:20], "big")
        h = int.from_bytes(p[20:24], "big")
        mode = _PNG_MODES.get(p[25], "RGB")
        return ("png", w, h, mode) if w > 0 and h > 0 else None
    # JPEG: SOI, then marker segments until a SOFn yields dimensions
    if p[:2] == b"\xff\xd8":
        i = 2
        while i + 3 < len(p):
            if p[i] != 0xFF:  # desynchronized — not a well-formed JPEG
                return None
            while i < len(p) and p[i] == 0xFF:  # fill bytes allowed
                i += 1
            if i >= len(p):
                return None
            marker = p[i]
            i += 1
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue  # standalone markers: no length field
            if i + 1 >= len(p):
                return None
            seglen = int.from_bytes(p[i : i + 2], "big")
            if seglen < 2:
                return None
            if marker in _JPEG_SOF:
                if i + 7 >= len(p):
                    return None
                h = int.from_bytes(p[i + 3 : i + 5], "big")
                w = int.from_bytes(p[i + 5 : i + 7], "big")
                mode = _JPEG_MODES.get(p[i + 7], "RGB")
                return ("jpeg", w, h, mode) if w > 0 and h > 0 else None
            i += seglen
        return None
    # GIF: 6-byte version tag then little-endian logical screen size
    if p[:6] in (b"GIF87a", b"GIF89a") and len(p) >= 10:
        w = int.from_bytes(p[6:8], "little")
        h = int.from_bytes(p[8:10], "little")
        return ("gif", w, h, "P") if w > 0 and h > 0 else None
    # BMP: 'BM' + BITMAPINFOHEADER (width/height at offsets 18/22)
    if p[:2] == b"BM" and len(p) >= 26:
        w = int.from_bytes(p[18:22], "little", signed=True)
        h = abs(int.from_bytes(p[22:26], "little", signed=True))
        return ("bmp", w, h, "RGB") if w > 0 and h > 0 else None
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


def decode_image_pixels(payload: bytes):
    """Full pixel decode for EVERY container ``sniff_image``
    recognizes, in pure stdlib+numpy Python — no imaging library:

    - **PNG** (decoded here): IDAT streams are ``zlib``-inflated and
      the per-scanline filters (PNG spec §9: None/Sub/Up/Average/
      Paeth) are undone; 8-bit grayscale/LA/RGB/RGBA and palette,
      non-interlaced.
    - **BMP / GIF / JPEG** (``functions/imaging.py``): uncompressed
      BI_RGB BMP (8/24/32-bit, palette, row padding, both row
      orders); GIF87a/89a with full LZW and interlace; baseline
      sequential JPEG (SOF0) with Huffman decode, dequantize, IDCT,
      chroma upsample, restart markers.

    Returns a numpy ``uint8`` array of shape ``(height, width,
    channels)`` (palette rows expand to RGB). The per-row/per-block
    Python loops are correct and fine for fixtures and spot decodes;
    a 100 TB decode pass should swap a C-backed decoder into the same
    kernel seam (nothing else changes)."""
    import numpy as np

    info = sniff_image(payload)
    if info is None:
        raise ValueError("payload is not a recognized image container")
    fmt = info[0]
    if fmt != "png":
        from watermill_kinesis_spark.functions import imaging

        decoder = {
            "bmp": imaging.decode_bmp,
            "gif": imaging.decode_gif,
            "jpeg": imaging.decode_jpeg,
        }[fmt]
        return decoder(payload)
    p = bytes(payload)
    # walk chunks: [len:4][type:4][data][crc:4]
    width = int.from_bytes(p[16:20], "big")
    height = int.from_bytes(p[20:24], "big")
    bit_depth, color_type = p[24], p[25]
    interlace = p[28]
    if bit_depth != 8:
        raise NotImplementedError(f"PNG bit depth {bit_depth} (8 only)")
    if interlace != 0:
        raise NotImplementedError("interlaced PNG (Adam7) not supported")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"invalid PNG color type {color_type}")
    idat: list[bytes] = []
    plte = b""
    i = 8
    while i + 8 <= len(p):
        clen = int.from_bytes(p[i : i + 4], "big")
        ctype = p[i + 4 : i + 8]
        data = p[i + 8 : i + 8 + clen]
        if ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IEND":
            break
        i += 12 + clen
    import zlib

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
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal.reshape(-1, 3)
        pixels = pal[pixels[:, :, 0]]
    return pixels


def encode_png(pixels, color_type: int = 0) -> bytes:
    """Minimal PNG encoder (filter 0, one IDAT) for fixtures and the
    pixel-statistics oracle: ``pixels`` is a numpy uint8 array of shape
    (h, w) or (h, w, channels); colors map 1→grayscale, 2→LA, 3→RGB,
    4→RGBA. Output decodes in any PNG reader (CRCs included)."""
    import zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    if color_type:
        ctype = color_type

    def chunk(tag: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + tag + data + crc.to_bytes(4, "big")

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, ctype, 0, 0, 0])
    )
    scanlines = b"".join(b"\x00" + px[y].tobytes() for y in range(h))
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )


def _fake_decode(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in decoder: derives pseudo-dimensions from
    payload bytes so tests have stable expectations."""
    n = len(payload)
    width = 16 + (n % 320)
    height = 16 + ((n * 7919) % 240)
    mode = "RGB" if n % 2 == 0 else "L"
    return width, height, mode


@query("multimodal_feature_extract", tags=("multimodal", "llm-pipeline"))
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via ``mapInPandas``:
    executors receive Arrow record batches, run the decoder per payload,
    and emit typed feature rows. Real image containers (PNG/JPEG/GIF/
    BMP) get their true dimensions from the pure-Python header parser
    (``sniff_image``); unrecognized payloads — all of them for this
    text-backed test table — fall through to the deterministic fake
    decoder, with the ``decoder`` column recording which path ran. This
    is the canonical multimodal pattern — Python touches each asset
    exactly once, in columnar batches, after all relational pruning has
    happened JVM-side. Rows-only check (binary+UDF, not
    SQL-expressible)."""
    return extract_image_features(assets(spark, sf_dir))


def extract_image_features(asset_df: DataFrame) -> DataFrame:
    """The reusable feature-extraction kernel: any DataFrame with
    ``doc_id``/``payload`` columns → typed feature rows per asset
    (``FEATURE_SCHEMA``), real header decode with fake-decoder
    fallback. Partition-parallel; only features cross the wire."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                info = sniff_image(p)
                if info is not None:
                    fmt, w, h, mode = info
                    feats.append((w, h, mode, fmt))
                else:
                    w, h, mode = _fake_decode(p)
                    feats.append((w, h, mode, "fake"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "mode": [f[2] for f in feats],
                    "decoder": [f[3] for f in feats],
                }
            )

    return asset_df.mapInPandas(extract, FEATURE_SCHEMA)


#: fake "video" framing over the payload bytes: fixed-size frames,
#: keep every FRAME_STRIDE-th one
FRAME_BYTES = 64
FRAME_STRIDE = 4


@query("multimodal_frame_sample", tags=("multimodal", "llm-pipeline"))
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: treat each payload as a
    sequence of fixed-size frames and keep every ``FRAME_STRIDE``-th
    one, emitting per-frame position + checksum features. With a real
    video container the frame boundaries come from the demuxer (and the
    checksum becomes a thumbnail/feature tensor) — that decode is the
    stubbed edge; the Spark shape is exactly this: 1→N row expansion
    inside ``mapInPandas``, so sampling is partition-parallel, nothing
    but (doc_id, frame features) crosses the wire, and the full binary
    never re-shuffles. Rows-only check (binary+UDF); the framing math
    is pinned against a local reference in tests."""
    import zlib

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, crcs = [], [], [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(p)
                n_frames = (len(p) + FRAME_BYTES - 1) // FRAME_BYTES
                for fi in range(0, n_frames, FRAME_STRIDE):
                    fr = p[fi * FRAME_BYTES : (fi + 1) * FRAME_BYTES]
                    ids.append(did)
                    idxs.append(fi)
                    offs.append(fi * FRAME_BYTES)
                    lens.append(len(fr))
                    crcs.append(zlib.crc32(fr))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "byte_offset": offs,
                    "frame_bytes": lens,
                    "frame_crc": crcs,
                }
            )

    return assets(spark, sf_dir).mapInPandas(
        sample,
        "doc_id long, frame_idx int, byte_offset int, frame_bytes int, frame_crc long",
    )


@query(
    "multimodal_binary_stats",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS digest
    FROM documents
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column statistics computed entirely JVM-side: byte length
    and SHA-256 content digest (the content-addressing key a multimodal
    lake dedups and shards by)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("digest"),
    )


@query(
    "multimodal_meta_rollup",
    oracle="""
    SELECT lang AS meta_lang,
           source AS meta_source,
           COUNT(*) AS n_assets,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
    FROM documents
    GROUP BY lang, source
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_meta_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage accounting grouped by metadata-map entries — exercises
    map-typed columns as first-class group keys (`meta['lang']`), the
    query shape behind 'how many bytes of German audio do we hold'."""
    a = assets(spark, sf_dir)
    return a.groupBy(
        F.col("meta").getItem("lang").alias("meta_lang"),
        F.col("meta").getItem("source").alias("meta_source"),
    ).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.octet_length("payload")).cast("bigint").alias("total_bytes"),
        F.max(F.octet_length("payload")).cast("bigint").alias("max_bytes"),
    )


@query(
    "multimodal_image_decode",
    oracle="""
    SELECT doc_id,
           CAST(16 + n_chars % 320 AS INT) AS width,
           CAST(16 + (n_chars * 7919) % 240 AS INT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'RGB' ELSE 'L' END AS mode,
           'png' AS fmt
    FROM documents
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real container decode, value-level oracle-checked: each document
    synthesizes a REAL PNG (8-byte signature + CRC'd IHDR chunk) whose
    dimensions derive arithmetically from ``n_chars``, and the
    pure-Python header parser (``sniff_image``) recovers them from the
    BYTES. The DuckDB oracle recomputes the dimensions from the same
    arithmetic — so what is verified end-to-end is the PNG encode →
    parse round trip on every row, making the image decoder an
    oracle-gated operator rather than a rows-only stub. One Arrow pass,
    no shuffle; at 100 TB the synth step is replaced by the lake's
    actual payload bytes and the kernel is unchanged."""
    import struct
    import zlib as _zlib

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth_and_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ws, hs, modes, fmts = [], [], [], [], []
            for did, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w = 16 + int(n_chars) % 320
                h = 16 + (int(n_chars) * 7919) % 240
                color_type = 2 if did % 2 == 0 else 0  # RGB / grayscale
                ihdr = struct.pack(">II5B", w, h, 8, color_type, 0, 0, 0)
                chunk = struct.pack(">I", 13) + b"IHDR" + ihdr
                chunk += struct.pack(">I", _zlib.crc32(b"IHDR" + ihdr))
                payload = PNG_SIG + chunk
                info = sniff_image(payload)  # the real parser, real bytes
                assert info is not None
                fmt, pw, ph, mode = info
                ids.append(did)
                ws.append(pw)
                hs.append(ph)
                modes.append(mode)
                fmts.append(fmt)
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs, "mode": modes, "fmt": fmts}
            )

    return d.mapInPandas(
        synth_and_decode, "doc_id long, width int, height int, mode string, fmt string"
    )


@query(
    "multimodal_pixel_stats",
    oracle="""
    WITH px AS (
        SELECT doc_id, (doc_id * 31 + t.i) % 256 AS v
        FROM documents,
             unnest(range(0, (4 + doc_id % 13) * (3 + doc_id % 7))) AS t(i))
    SELECT doc_id,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MAX(v) AS BIGINT) AS max_pixel
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL pixel decode, value-level oracle-checked: each document
    synthesizes a real compressed PNG (``encode_png``: IHDR + deflated
    IDAT + CRCs) whose grayscale pixels derive arithmetically from
    ``doc_id``, then ``decode_image_pixels`` inflates the IDAT stream
    and undoes the scanline filters to recover the pixel matrix, and
    the emitted statistics come from the DECODED pixels. The DuckDB
    oracle recomputes the same statistics from the generating
    arithmetic — so the zlib round trip and the unfilter path are
    verified value-exactly on every row. One Arrow pass, no shuffle;
    on a real lake the synth step is replaced by stored payload bytes
    and the kernel seam is unchanged."""
    import numpy as np

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "width", "height", "n_pixels", "sum_pixels", "max_pixel"
            )}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 13, 3 + did % 7
                flat = (did * 31 + np.arange(w * h, dtype=np.int64)) % 256
                png = encode_png(flat.astype(np.uint8).reshape(h, w))
                decoded = decode_image_pixels(png)  # real inflate+unfilter
                assert decoded.shape == (h, w, 1)
                out["doc_id"].append(did)
                out["width"].append(decoded.shape[1])
                out["height"].append(decoded.shape[0])
                out["n_pixels"].append(int(decoded.size))
                out["sum_pixels"].append(int(decoded.sum(dtype=np.int64)))
                out["max_pixel"].append(int(decoded.max()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_decode_stats,
        "doc_id long, width int, height int, n_pixels long, "
        "sum_pixels long, max_pixel long",
    )


# ---------------------------------------------------------------------------
# framed signal energy (the audio-feature shape, exactly oracle-checked)

#: bytes per analysis frame for multimodal_audio_energy (full frames
#: only; payloads shorter than one frame are out of scope)
AUDIO_FRAME_BYTES = 128


@query(
    "multimodal_audio_energy",
    oracle=f"""
    WITH framed AS (
        SELECT doc_id,
               list_sum(list_transform(
                   range(i, i + {AUDIO_FRAME_BYTES}),
                   j -> CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT)
                        * CAST(ascii(substring(text, CAST(j AS INT), 1)) AS BIGINT)
               )) AS frame_energy
        FROM documents,
             unnest(generate_series(1, length(text) - {AUDIO_FRAME_BYTES} + 1,
                                    {AUDIO_FRAME_BYTES})) AS t(i))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(MAX(frame_energy) AS BIGINT) AS max_energy,
           CAST(SUM(frame_energy) AS BIGINT) AS total_energy
    FROM framed GROUP BY doc_id
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framed signal-energy extraction over binary payloads — the audio
    pipeline shape (fixed-size PCM frames → per-frame energy → per-asset
    profile), runnable without audio libs because the payload bytes ARE
    the samples. The kernel is one Arrow pass: numpy ``frombuffer`` →
    trim to whole 128 (AUDIO_FRAME_BYTES)-byte frames → reshape → per-frame
    sum of squared samples, all exact int64 — which makes this the rare
    multimodal operator with a full value-level oracle (the payloads
    are ASCII, so DuckDB recomputes the same energies from character
    codes). At 100 TB the same kernel shape holds with a real decoder
    in place of ``frombuffer``; per-row cost is O(bytes), no shuffle
    until the |docs|-row profile aggregate."""
    import numpy as np

    a = assets(spark, sf_dir).select("doc_id", "payload")

    def energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, mx, tot = [], [], [], []
            for did, p in zip(pdf["doc_id"], pdf["payload"]):
                buf = np.frombuffer(bytes(p), dtype=np.uint8)
                n = (len(buf) // AUDIO_FRAME_BYTES) * AUDIO_FRAME_BYTES
                if n == 0:
                    continue
                frames = buf[:n].astype(np.int64).reshape(-1, AUDIO_FRAME_BYTES)
                e = (frames * frames).sum(axis=1)
                ids.append(did)
                nf.append(len(e))
                mx.append(int(e.max()))
                tot.append(int(e.sum()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": nf,
                    "max_energy": mx,
                    "total_energy": tot,
                }
            )

    return a.mapInPandas(
        energy, "doc_id long, n_frames bigint, max_energy bigint, total_energy bigint"
    )


@query(
    "multimodal_pixel_decode_formats",
    oracle="""
    WITH px AS (
        SELECT doc_id, (doc_id * 31 + t.i) % 256 AS v
        FROM documents,
             unnest(range(0, (4 + doc_id % 13) * (3 + doc_id % 7))) AS t(i))
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                ELSE 'gif' END AS fmt,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height,
           CAST(COUNT(*) AS BIGINT) AS n_pixels,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           CAST(MAX(v) AS BIGINT) AS max_pixel
    FROM px GROUP BY doc_id
    """,
    tags=("multimodal", "llm-pipeline"),
)
def multimodal_pixel_decode_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE lossless pixel-decode surface under one value-exact
    oracle: each document synthesizes a real container in a format
    cycled by ``doc_id % 3`` — a compressed PNG (``encode_png``), a
    24-bit BMP (``encode_bmp``), or an LZW-compressed GIF
    (``encode_gif`` through an identity-grayscale palette) — whose
    pixels derive arithmetically from ``doc_id``; then ONE call,
    ``decode_image_pixels``, sniffs the container and dispatches to
    the right decoder (zlib inflate+unfilter / BGR+padding unpack /
    LZW), and the emitted statistics come from the DECODED pixels.
    The DuckDB oracle recomputes them from the generating arithmetic,
    so every decoder and the dispatch seam are verified bit-exactly
    on every row. (JPEG is deliberately absent: its decode is
    quantization-lossy, so it is round-trip-tested with tolerance in
    ``tests/test_imaging.py`` instead of hash-compared.) One Arrow
    pass, no shuffle, linear at 100 TB — on a real lake the synth
    step is replaced by stored payload bytes, the kernel unchanged."""
    import numpy as np

    from watermill_kinesis_spark.functions.imaging import encode_bmp, encode_gif

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    _GRAY_PAL = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)

    def synth_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "fmt", "width", "height",
                "n_pixels", "sum_pixels", "max_pixel",
            )}
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 4 + did % 13, 3 + did % 7
                gray = (
                    (did * 31 + np.arange(w * h, dtype=np.int64)) % 256
                ).astype(np.uint8).reshape(h, w)
                fmt = ("png", "bmp", "gif")[did % 3]
                if fmt == "png":
                    payload = encode_png(gray)
                elif fmt == "bmp":
                    payload = encode_bmp(gray)
                else:
                    payload = encode_gif(gray, _GRAY_PAL)
                decoded = decode_image_pixels(payload)  # sniff + dispatch
                chan0 = decoded[:, :, 0].astype(np.int64)
                assert chan0.shape == (h, w)
                out["doc_id"].append(did)
                out["fmt"].append(fmt)
                out["width"].append(chan0.shape[1])
                out["height"].append(chan0.shape[0])
                out["n_pixels"].append(int(chan0.size))
                out["sum_pixels"].append(int(chan0.sum()))
                out["max_pixel"].append(int(chan0.max()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_decode,
        "doc_id long, fmt string, width int, height int, "
        "n_pixels long, sum_pixels long, max_pixel long",
    )


@query(
    "frame_sample_census_audit",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, octet_length(encode(text)) AS b
        FROM documents
        WHERE text IS NOT NULL AND octet_length(encode(text)) > 0),
    e AS (
        SELECT doc_id, b,
               (b + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS nf,
               ((b + {FRAME_BYTES - 1}) // {FRAME_BYTES}
                + {FRAME_STRIDE - 1}) // {FRAME_STRIDE} AS ns
        FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ns) AS BIGINT) AS n_frames_sampled,
           CAST(SUM({FRAME_BYTES} * ns
                    - CASE WHEN (nf - 1) % {FRAME_STRIDE} = 0
                           THEN {FRAME_BYTES} * nf - b ELSE 0 END)
                AS BIGINT) AS total_sampled_bytes,
           1 AS offsets_exact,
           1 AS stride_exact,
           1 AS per_doc_census_match
    FROM e
    """,
    tags=("multimodal", "audit", "llm-pipeline"),
)
def frame_sample_census_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only
    ``multimodal_frame_sample``: because the test table's payload is
    ``encode(text, UTF-8)``, the ENTIRE frame census is integer-
    derivable from ``octet_length(text)`` — frames per asset
    ⌈b/FRAME_BYTES⌉, sampled frames ⌈nf/FRAME_STRIDE⌉, and the exact
    sampled byte total (every sampled frame is FRAME_BYTES except the
    asset's last frame when the stride lands on it). The audit runs
    the REAL 1→N expansion, re-aggregates its output per asset, joins
    it against the independently computed expectation, and pins:
    offsets are exactly frame_idx·FRAME_BYTES, every sampled index is
    on-stride, and every asset's (sampled count, sampled bytes, last
    index) triple matches the closed form — a demuxer that dropped a
    tail frame, double-emitted under Arrow batch splits, or mis-strode
    flips a verdict. One extra shuffle (the per-asset re-aggregate);
    the binary itself never re-shuffles."""
    out = multimodal_frame_sample(spark, sf_dir)
    actual = out.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("ns_actual"),
        F.sum("frame_bytes").alias("bytes_actual"),
        F.max("frame_idx").alias("max_idx"),
        F.sum(
            (F.col("byte_offset") != F.col("frame_idx") * FRAME_BYTES)
            .cast("long")
        ).alias("bad_off"),
        F.sum((F.col("frame_idx") % FRAME_STRIDE != 0).cast("long")).alias(
            "bad_stride"
        ),
    )
    d = load_table(spark, sf_dir, "documents")
    b = F.octet_length(F.encode("text", "UTF-8"))
    expected = (
        d.where(F.col("text").isNotNull() & (b > 0))
        .select("doc_id", b.alias("b"))
        .withColumn("nf", F.expr(f"(b + {FRAME_BYTES - 1}) div {FRAME_BYTES}"))
        .withColumn(
            "ns", F.expr(f"(nf + {FRAME_STRIDE - 1}) div {FRAME_STRIDE}")
        )
        .select(
            "doc_id",
            "ns",
            (
                F.lit(FRAME_BYTES) * F.col("ns")
                - F.when(
                    (F.col("nf") - 1) % FRAME_STRIDE == 0,
                    F.lit(FRAME_BYTES) * F.col("nf") - F.col("b"),
                ).otherwise(0)
            ).alias("exp_bytes"),
            (FRAME_STRIDE * (F.col("ns") - 1)).alias("exp_max_idx"),
        )
    )
    joined = expected.join(actual, "doc_id", "full_outer")
    mismatch = (
        ~F.col("ns_actual").eqNullSafe(F.col("ns"))
        | ~F.col("bytes_actual").eqNullSafe(F.col("exp_bytes"))
        | ~F.col("max_idx").eqNullSafe(F.col("exp_max_idx"))
    ).cast("long")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("ns_actual").cast("bigint").alias("n_frames_sampled"),
        F.sum("bytes_actual").cast("bigint").alias("total_sampled_bytes"),
        F.coalesce(F.sum("bad_off"), F.lit(0)).alias("bad_off"),
        F.coalesce(F.sum("bad_stride"), F.lit(0)).alias("bad_stride"),
        F.sum(mismatch).alias("n_mismatch"),
    )
    return agg.select(
        "n_docs",
        "n_frames_sampled",
        "total_sampled_bytes",
        (F.col("bad_off") == 0).cast("int").alias("offsets_exact"),
        (F.col("bad_stride") == 0).cast("int").alias("stride_exact"),
        (F.col("n_mismatch") == 0).cast("int").alias("per_doc_census_match"),
    )


@query(
    "feature_extract_census_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(COALESCE(SUM(octet_length(encode(text))), 0) AS BIGINT)
               AS total_payload_bytes,
           1 AS one_row_per_asset,
           1 AS sizes_exact,
           1 AS dims_positive
    FROM documents WHERE text IS NOT NULL
    """,
    tags=("multimodal", "audit", "llm-pipeline"),
)
def feature_extract_census_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable census twin of the rows-only
    ``multimodal_feature_extract`` (decoded width/height/mode stay
    engine-internal — the header parsers are golden-container-pinned in
    tests/test_imaging.py; what CAN cross engines is the asset
    accounting): the audit runs the REAL Arrow extraction pass and
    pins that it emitted EXACTLY one feature row per asset (nothing
    dropped or double-emitted across Arrow batch splits — joined
    per-asset against the source table, not just count-compared),
    that every reported ``n_bytes`` equals the payload's true
    ``octet_length`` (oracle-recomputed total), and that every decode
    — real header or deterministic fake — produced positive
    dimensions. One scan through the extractor plus a bytes-per-row
    census join; the binary never re-shuffles. NULL-payload rows are
    excluded on both engines before the kernel (the frame twin's
    pattern — ``bytes(None)`` would crash the decoder inside the Arrow
    worker instead of flipping a verdict); the kernel driven is
    :func:`extract_image_features`, the same one the production
    operator wraps."""
    feats = extract_image_features(
        assets(spark, sf_dir).where(F.col("payload").isNotNull())
    )
    per_asset = feats.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_bytes").alias("bytes_actual"),
        F.min((F.col("width") > 0) & (F.col("height") > 0)).alias("dims_ok"),
    )
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.octet_length(F.encode("text", "UTF-8")).alias("b"),
        )
    )
    joined = d.join(per_asset, "doc_id", "full_outer")
    agg = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.coalesce(F.sum("bytes_actual").cast("bigint"), F.lit(0)).alias(
            "total_payload_bytes"
        ),
        F.max(
            (~F.col("n_rows").eqNullSafe(F.lit(1))).cast("int")
        ).alias("bad_cardinality"),
        F.max(
            (~F.col("bytes_actual").eqNullSafe(F.col("b").cast("long")))
            .cast("int")
        ).alias("bad_size"),
        F.min(F.coalesce(F.col("dims_ok"), F.lit(False)).cast("int")).alias(
            "dims_min"
        ),
    )
    return agg.select(
        "n_assets",
        "total_payload_bytes",
        (F.col("bad_cardinality") == 0).cast("int").alias("one_row_per_asset"),
        (F.col("bad_size") == 0).cast("int").alias("sizes_exact"),
        F.col("dims_min").alias("dims_positive"),
    )


# ---------------------------------------------------------------------------
# audio (WAV), video (MP4) and image-metadata (TIFF/EXIF) containers


@query(
    "multimodal_wav_decode",
    oracle="""
    WITH pcm AS (
        SELECT doc_id,
               (doc_id * 7 + t.i * 13) % 4096 - 2048 AS s
        FROM documents,
             unnest(range(0, 64 + doc_id % 129)) AS t(i))
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS BIGINT) AS sample_rate,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
           CAST(SUM(s * s) AS BIGINT) AS energy,
           CAST(MAX(s) AS BIGINT) AS peak
    FROM pcm GROUP BY doc_id
    """,
    tags=("multimodal", "audio", "llm-pipeline"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE decode under the oracle gate: each document
    synthesizes a PCM16 WAV (``encode_wav``: RIFF header, fmt chunk,
    word-aligned data chunk) whose samples derive arithmetically from
    ``doc_id``, then ``decode_wav`` walks the chunks back and the
    emitted loudness statistics come from the DECODED int16 samples.
    int16 covers the ±2048 synth range exactly, and every statistic
    is integer arithmetic — bit-identical to the oracle's recompute."""
    import numpy as np

    from watermill_kinesis_spark.functions.containers import decode_wav, encode_wav

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "sample_rate", "n_samples", "sum_abs", "energy", "peak"
            )}
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 129
                s = ((did * 7 + np.arange(n, dtype=np.int64) * 13) % 4096 - 2048)
                payload = encode_wav(s.astype(np.int16), 8000 + (did % 3) * 4000)
                rate, ch, dec = decode_wav(payload)  # the real chunk walker
                assert ch == 1 and dec.shape == (n, 1)
                v = dec[:, 0].astype(np.int64)
                out["doc_id"].append(did)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(v))
                out["sum_abs"].append(int(np.abs(v).sum()))
                out["energy"].append(int((v * v).sum()))
                out["peak"].append(int(v.max()))
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_decode,
        "doc_id long, sample_rate long, n_samples long, "
        "sum_abs long, energy long, peak long",
    )


@query(
    "multimodal_mp4_probe",
    oracle="""
    SELECT doc_id,
           'isom' AS brand,
           CAST(600 + (doc_id % 5) * 200 AS BIGINT) AS timescale,
           CAST(n_chars * 100 AS BIGINT) AS duration,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
           CAST(n_chars * 100 * 1000 // (600 + (doc_id % 5) * 200) AS BIGINT)
               AS duration_ms
    FROM documents
    """,
    tags=("multimodal", "video", "llm-pipeline"),
)
def multimodal_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) probing under the oracle gate: each
    document synthesizes a valid box tree (``encode_mp4``: ftyp +
    moov{mvhd + trak×k}) with movie timescale/duration/track-count
    derived arithmetically from ``doc_id``/``n_chars``, and
    ``probe_mp4`` recovers them by WALKING THE BOXES (size+type
    headers, container recursion, mvhd v0/v1 layouts) — the media-
    catalog indexing pass a video lake runs before any frame decode.
    duration_ms is exact integer division on both engines."""
    from watermill_kinesis_spark.functions.containers import encode_mp4, probe_mp4

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth_probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "brand", "timescale", "duration", "n_tracks", "duration_ms"
            )}
            for did, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                did, n_chars = int(did), int(n_chars)
                ts = 600 + (did % 5) * 200
                dur = n_chars * 100
                payload = encode_mp4(ts, dur, 1 + did % 3)
                info = probe_mp4(payload)  # the real box walker
                out["doc_id"].append(did)
                out["brand"].append(info["brand"])
                out["timescale"].append(info["timescale"])
                out["duration"].append(info["duration"])
                out["n_tracks"].append(info["n_tracks"])
                out["duration_ms"].append(info["duration"] * 1000 // info["timescale"])
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_probe,
        "doc_id long, brand string, timescale long, duration long, "
        "n_tracks long, duration_ms long",
    )


#: EXIF tag numbers (TIFF 6.0 / EXIF 2.3 baseline)
TAG_IMAGE_WIDTH = 0x0100
TAG_IMAGE_LENGTH = 0x0101
TAG_ORIENTATION = 0x0112


@query(
    "multimodal_exif_orientation",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           CAST(160 + (doc_id % 11) * 16 AS BIGINT) AS width,
           CAST(120 + (doc_id % 7) * 16 AS BIGINT) AS height,
           CAST(1 + doc_id % 8 AS BIGINT) AS orientation
    FROM documents
    """,
    tags=("multimodal", "exif", "llm-pipeline"),
)
def multimodal_exif_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF/EXIF IFD metadata extraction under the oracle gate:
    each document synthesizes a minimal TIFF (``encode_tiff``) in a
    byte order cycled by parity — little-endian ``II`` and big-endian
    ``MM`` rows both flow through the gate — carrying
    ImageWidth/ImageLength (LONG) and Orientation (SHORT, the one EXIF
    field every image pipeline must respect before resizing), and
    ``decode_tiff_tags`` walks IFD0's 12-byte entries to recover them.
    All eight EXIF orientation values appear across the corpus."""
    from watermill_kinesis_spark.functions.containers import (
        decode_tiff_tags,
        encode_tiff,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth_walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "doc_id", "byte_order", "width", "height", "orientation"
            )}
            for did in pdf["doc_id"]:
                did = int(did)
                big = did % 2 == 1
                payload = encode_tiff(
                    {
                        TAG_IMAGE_WIDTH: (4, 160 + (did % 11) * 16),
                        TAG_IMAGE_LENGTH: (4, 120 + (did % 7) * 16),
                        TAG_ORIENTATION: (3, 1 + did % 8),
                    },
                    big_endian=big,
                )
                tags = decode_tiff_tags(payload)  # the real IFD walker
                out["doc_id"].append(did)
                out["byte_order"].append("MM" if big else "II")
                out["width"].append(tags[TAG_IMAGE_WIDTH])
                out["height"].append(tags[TAG_IMAGE_LENGTH])
                out["orientation"].append(tags[TAG_ORIENTATION])
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_walk,
        "doc_id long, byte_order string, width long, height long, orientation long",
    )


@query(
    "multimodal_gif_animation_probe",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 4 AS BIGINT) AS n_frames,
           CAST(4 + doc_id % 6 AS BIGINT) AS frame_delay_cs,
           CAST((1 + doc_id % 4) * (4 + doc_id % 6) AS BIGINT)
               AS total_delay_cs,
           CAST((1 + doc_id % 4) * (4 + doc_id % 6) * 10 AS BIGINT)
               AS duration_ms,
           CAST(doc_id % 3 AS BIGINT) AS loops
    FROM documents
    """,
    tags=("multimodal", "video", "llm-pipeline"),
)
def multimodal_gif_animation_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF block-stream walking under the oracle gate:
    each document synthesizes a multi-frame GIF89a
    (``encode_animated_gif``: NETSCAPE loop extension + per-frame
    Graphic Control Extensions + LZW image data) with frame count,
    delay, and loop count derived arithmetically from ``doc_id``, and
    ``probe_gif_animation`` recovers them by WALKING THE BLOCKS —
    sub-block skipping, GCE delay accumulation, app-extension parse —
    without decoding any pixels (the animation-index pass of a media
    catalog; frame-level pixel decode stays ``decode_gif``'s job).
    One Arrow pass, zero shuffle, linear at 100 TB."""
    import numpy as np

    from watermill_kinesis_spark.functions.containers import (
        encode_animated_gif,
        probe_gif_animation,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]

    def synth_probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "doc_id",
                    "n_frames",
                    "frame_delay_cs",
                    "total_delay_cs",
                    "duration_ms",
                    "loops",
                )
            }
            for did in pdf["doc_id"]:
                did = int(did)
                k = 1 + did % 4
                delay = 4 + did % 6
                frames = [
                    np.full((8, 8), (did + f) % 4, dtype=np.uint8)
                    for f in range(k)
                ]
                payload = encode_animated_gif(
                    frames, pal, [delay] * k, loops=did % 3
                )
                info = probe_gif_animation(payload)  # the real block walker
                out["doc_id"].append(did)
                out["n_frames"].append(info["n_frames"])
                out["frame_delay_cs"].append(delay)
                out["total_delay_cs"].append(info["total_delay_cs"])
                out["duration_ms"].append(info["total_delay_cs"] * 10)
                out["loops"].append(info["loops"])
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_probe,
        "doc_id long, n_frames long, frame_delay_cs long, "
        "total_delay_cs long, duration_ms long, loops long",
    )


@query(
    "multimodal_png_text_probe",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 16 AS BIGINT) AS width,
           CAST(1 + doc_id % 9 AS BIGINT) AS height,
           CAST(5 AS BIGINT) AS n_chunks,
           'Title=doc-' || CAST(doc_id AS VARCHAR) || ';Source=' || source
               AS text_meta
    FROM documents
    """,
    tags=("multimodal", "image", "llm-pipeline"),
)
def multimodal_png_text_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG chunk-stream walking with CRC verification under the
    oracle gate: each document synthesizes a valid PNG
    (``encode_png_text``: IHDR + tEXt metadata + real zlib IDAT +
    IEND, every chunk CRC32-sealed) carrying Title/Source text chunks
    derived from the row, and ``probe_png_chunks`` walks the chunks
    back, RECOMPUTING every CRC (a flipped bit anywhere raises into
    the corrupt-skip contract) and extracting the metadata pairs —
    the ingest-integrity + sidecar-metadata pass of an image lake.
    One Arrow pass, zero shuffle."""
    from watermill_kinesis_spark.functions.containers import (
        encode_png_text,
        probe_png_chunks,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def synth_walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_chunks", "text_meta")}
            for did, src in zip(pdf["doc_id"], pdf["source"]):
                did = int(did)
                w, h = 1 + did % 16, 1 + did % 9
                payload = encode_png_text(
                    w, h, [("Title", f"doc-{did}"), ("Source", str(src))]
                )
                info = probe_png_chunks(payload)  # CRC-verified walk
                out["doc_id"].append(did)
                out["width"].append(info["width"])
                out["height"].append(info["height"])
                out["n_chunks"].append(info["n_chunks"])
                out["text_meta"].append(
                    ";".join(f"{k}={v}" for k, v in info["texts"])
                )
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_walk,
        "doc_id long, width long, height long, n_chunks long, text_meta string",
    )


@query(
    "multimodal_id3_tag_probe",
    oracle="""
    SELECT doc_id,
           'track-' || CAST(doc_id AS VARCHAR) AS title,
           source AS artist,
           CAST(2 AS BIGINT) AS n_frames,
           CAST(10 + (10 + 1 + 6 + length(CAST(doc_id AS VARCHAR)))
                + (10 + 1 + length(source))
                + 16 AS BIGINT) AS tag_bytes
    FROM documents
    """,
    tags=("multimodal", "audio", "llm-pipeline"),
)
def multimodal_id3_tag_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ID3v2.3 tag walking under the oracle gate: each document
    synthesizes a spec-valid tag (``encode_id3v2``: synchsafe header
    size, 32-bit frame sizes, latin-1 text frames, zero padding) with
    title/artist derived from the row, and ``probe_id3v2`` recovers
    them by WALKING THE FRAMES — the music-catalog metadata pass that
    indexes an audio lake before any sample decode. The oracle
    recomputes the title/artist strings AND the exact byte-level tag
    size (header 10 + per-frame 10+1+text + padding 16) from the same
    row arithmetic, so the synchsafe size round-trip is value-checked
    per row. One Arrow pass, zero shuffle."""
    from watermill_kinesis_spark.functions.containers import (
        encode_id3v2,
        probe_id3v2,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def synth_walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "title", "artist", "n_frames", "tag_bytes")}
            for did, src in zip(pdf["doc_id"], pdf["source"]):
                did, src = int(did), str(src)
                payload = encode_id3v2(
                    [("TIT2", f"track-{did}"), ("TPE1", src)]
                )
                info = probe_id3v2(payload)  # the real frame walker
                frames = dict(info["frames"])
                out["doc_id"].append(did)
                out["title"].append(frames["TIT2"])
                out["artist"].append(frames["TPE1"])
                out["n_frames"].append(len(info["frames"]))
                out["tag_bytes"].append(info["tag_bytes"])
            yield pd.DataFrame(out)

    return d.mapInPandas(
        synth_walk,
        "doc_id long, title string, artist string, n_frames long, tag_bytes long",
    )
