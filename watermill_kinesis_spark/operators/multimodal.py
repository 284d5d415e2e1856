"""Multimodal columns: opaque ``binary`` payloads + typed metadata
(north-star LLM-pipeline layer), from raw-file ingest through the
``binaryFile`` source to container decoding.

This is the reference's own data model scaled up: a Watermill message
payload is opaque bytes with a string→string metadata map
(marshaller.go:42-49), and that is exactly how a 100 TB multimodal lake
stores images/audio/video — a binary column plus typed metadata, decoded
only at the edge of the pipeline.

This module holds operators only; every container byte layout lives in
``functions/``. The image formats (PNG, JPEG, GIF, BMP) live in
``functions/imaging.py``: ``sniff_image`` parses their headers in pure Python — no Pillow needed —
so ``decode_image_features`` extracts real dimensions from real image
bytes, and ``decode_image_pixels`` decodes EVERY recognized container
to pixels in pure stdlib+numpy Python — all round-trip-tested, the
lossless three oracle-verified. Payloads that aren't a recognized
image container fall back to a deterministic fake decoder (the test
seam). Everything around the kernels — the binary column handling,
the metadata map, the Arrow batch shape through ``mapInPandas``, the
partitioning — is real and tested.

Audio (WAV, ID3), video (MP4) and image metadata (TIFF/EXIF) come from
``functions/containers.py`` and follow the same verification shape:
each document synthesizes a REAL container whose contents derive
arithmetically from ``doc_id``, the REAL byte-level parser decodes it
inside one per-document kernel (``_per_document``, an Arrow-batched
``mapInPandas`` pass), and the DuckDB oracle recomputes the expected
values from the same arithmetic — so the RIFF chunk walker, the
ISO-BMFF box recursion and the TIFF IFD walker are verified
value-exactly on every row. Each is one Arrow pass, zero shuffle,
linear at 100 TB; on a real lake the synth step is replaced by stored
payload bytes and the kernel seam is unchanged.
"""

from __future__ import annotations

import os
import tempfile
import uuid as uuidlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.functions.imaging import (
    decode_image_pixels,
    encode_animated_gif,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_png_text,
    png_header,
    probe_gif_animation,
    probe_png_chunks,
    sniff_image,
)
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

FEATURE_SCHEMA = (
    "doc_id long, n_bytes int, width int, height int, mode string, decoder string"
)


def _per_document(df: DataFrame, row, schema: str) -> DataFrame:
    """The per-document kernel: one Arrow-batched ``mapInPandas`` pass
    that calls ``row`` with each input row's values (in ``df``'s
    column order) and emits the tuple it returns as one output row in
    ``schema``'s column order. Zero shuffle; only the output columns
    cross the wire."""
    names = [col.split()[0] for col in schema.split(",")]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row(*vals) for vals in zip(*(pdf[c] for c in pdf.columns))]
            yield pd.DataFrame.from_records(rows, columns=names)

    return df.mapInPandas(kernel, schema)


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

    def extract(did, p):
        info = sniff_image(p)
        if info is None:
            return (did, len(p), *_fake_decode(p), "fake")
        fmt, w, h, mode = info
        return did, len(p), w, h, mode, fmt

    return _per_document(asset_df.select("doc_id", "payload"), extract, FEATURE_SCHEMA)


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
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def synth_and_decode(did, n_chars):
        w = 16 + int(n_chars) % 320
        h = 16 + (int(n_chars) * 7919) % 240
        color_type = 2 if did % 2 == 0 else 0  # RGB / grayscale
        info = sniff_image(png_header(w, h, color_type))  # the real parser
        assert info is not None
        fmt, pw, ph, mode = info
        return did, pw, ph, mode, fmt

    return _per_document(
        d, synth_and_decode, "doc_id long, width int, height int, mode string, fmt string"
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

    def synth_decode_stats(did):
        did = int(did)
        w, h = 4 + did % 13, 3 + did % 7
        flat = (did * 31 + np.arange(w * h, dtype=np.int64)) % 256
        png = encode_png(flat.astype(np.uint8).reshape(h, w))
        decoded = decode_image_pixels(png)  # real inflate+unfilter
        assert decoded.shape == (h, w, 1)
        return (
            did,
            decoded.shape[1],
            decoded.shape[0],
            int(decoded.size),
            int(decoded.sum(dtype=np.int64)),
            int(decoded.max()),
        )

    return _per_document(
        d,
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

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    _GRAY_PAL = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)

    def synth_decode(did):
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
        return (
            did,
            fmt,
            chan0.shape[1],
            chan0.shape[0],
            int(chan0.size),
            int(chan0.sum()),
            int(chan0.max()),
        )

    return _per_document(
        d,
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

    def synth_decode(did):
        did = int(did)
        n = 64 + did % 129
        s = ((did * 7 + np.arange(n, dtype=np.int64) * 13) % 4096 - 2048)
        payload = encode_wav(s.astype(np.int16), 8000 + (did % 3) * 4000)
        rate, ch, dec = decode_wav(payload)  # the real chunk walker
        assert ch == 1 and dec.shape == (n, 1)
        v = dec[:, 0].astype(np.int64)
        return (
            did, rate, len(v), int(np.abs(v).sum()), int((v * v).sum()), int(v.max())
        )

    return _per_document(
        d,
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

    def synth_probe(did, n_chars):
        did, n_chars = int(did), int(n_chars)
        info = probe_mp4(  # the real box walker
            encode_mp4(600 + (did % 5) * 200, n_chars * 100, 1 + did % 3)
        )
        return (
            did,
            info["brand"],
            info["timescale"],
            info["duration"],
            info["n_tracks"],
            info["duration"] * 1000 // info["timescale"],
        )

    return _per_document(
        d,
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

    def synth_walk(did):
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
        return (
            did,
            "MM" if big else "II",
            tags[TAG_IMAGE_WIDTH],
            tags[TAG_IMAGE_LENGTH],
            tags[TAG_ORIENTATION],
        )

    return _per_document(
        d,
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

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]

    def synth_probe(did):
        did = int(did)
        k = 1 + did % 4
        delay = 4 + did % 6
        frames = [np.full((8, 8), (did + f) % 4, dtype=np.uint8) for f in range(k)]
        payload = encode_animated_gif(frames, pal, [delay] * k, loops=did % 3)
        info = probe_gif_animation(payload)  # the real block walker
        return (
            did,
            info["n_frames"],
            delay,
            info["total_delay_cs"],
            info["total_delay_cs"] * 10,
            info["loops"],
        )

    return _per_document(
        d,
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
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")

    def synth_walk(did, src):
        did = int(did)
        payload = encode_png_text(
            1 + did % 16, 1 + did % 9, [("Title", f"doc-{did}"), ("Source", str(src))]
        )
        info = probe_png_chunks(payload)  # CRC-verified walk
        return (
            did,
            info["width"],
            info["height"],
            info["n_chunks"],
            ";".join(f"{k}={v}" for k, v in info["texts"]),
        )

    return _per_document(
        d,
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

    def synth_walk(did, src):
        did, src = int(did), str(src)
        info = probe_id3v2(  # the real frame walker
            encode_id3v2([("TIT2", f"track-{did}"), ("TPE1", src)])
        )
        frames = dict(info["frames"])
        return (
            did,
            frames["TIT2"],
            frames["TPE1"],
            len(info["frames"]),
            info["tag_bytes"],
        )

    return _per_document(
        d,
        synth_walk,
        "doc_id long, title string, artist string, n_frames long, tag_bytes long",
    )


# ---------------------------------------------------------------------------
# binary-file corpus ingest (the multimodal file-drop path)

#: documents packed per container file: bounds the binaryFile listing
#: to n_docs/512 driver-side FileStatus entries at any corpus size
#: (a 100× one-file-per-doc layout OOM'd a 1 GiB driver at 500k
#: files); at a real 100 TB deployment the analogous knob is the
#: 128-512 MB object size every lake writer targets
_BINFILE_DOCS_PER_CONTAINER = 512

#: target container size in bytes. Containers are sliced with
#: ``substring(content, offset+1, n)`` whose offsets are INT — a
#: container over 2 GiB would silently WRAP the slice, not error, so
#: bucket count is derived from total corpus bytes too, not just doc
#: count. 128 MB leaves a 16x skew margin below 2^31 (xxhash64 on
#: doc_id is uniform, so per-bucket totals concentrate tightly) and
#: matches the 128-512 MB object size lake writers target anyway.
_BINFILE_TARGET_CONTAINER_BYTES = 128 * 1024 * 1024


@query(
    "binaryfile_ingest",
    oracle="""
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes
    FROM documents GROUP BY source
    """,
    tags=("format", "multimodal", "llm-pipeline"),
)
def binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file corpus ingest via the ``binaryFile`` source — the
    entry point for file-drop multimodal corpora. Documents are packed
    into BOUNDED MULTI-DOC CONTAINER files (~``_BINFILE_DOCS_PER_
    CONTAINER`` docs each, ``bucket=N/`` partition dirs, one file per
    bucket via repartition-by-bucket + in-partition doc_id sort, which
    also satisfies the writer's required partition-column ordering so
    no writer-side re-sort can scramble the in-file order), then
    re-ingested with ``spark.read.format("binaryFile")`` and SLICED
    back per document with an offset table: per-bucket running byte
    offsets (window over the bucket's docs) are aggregated into one
    bounded array per bucket, joined 1:1 to the container blob, and
    ``substring(content, offset+1, n_bytes)`` recovers each document —
    so the per-source byte totals still prove the write→list→read→
    slice path lossless against the original table (the text writer's
    one trailing newline per doc is subtracted). This layout is what
    keeps a 100× corpus listable: one-file-per-doc listing put
    500k FileStatus objects in the DRIVER's InMemoryFileIndex (OOM on
    a 1 GiB driver); containers bound driver metadata to
    ``n_docs / docs_per_container`` entries at ANY corpus size — the
    same reason production lakes pack small records into 128-512 MB
    objects. The one driver-side ``count()`` sizes the container
    count; the op is already eager by nature (it materializes the
    write during construction)."""
    d = load_table(spark, sf_dir, "documents")
    out = os.path.join(
        tempfile.mkdtemp(prefix=f"wk_binfile_{uuidlib.uuid4().hex[:6]}_"), "docs"
    )
    sizing = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("text") + 1).alias("b"),
    ).first()
    n_docs, total_bytes = sizing["n"], int(sizing["b"] or 0)
    # bucket count bounded BOTH ways: >= n_docs/512 keeps driver
    # FileStatus metadata O(n/512); >= total/128MB keeps every
    # container far below the 2^31 substring-offset wrap point
    n_buckets = max(
        1,
        -(-n_docs // _BINFILE_DOCS_PER_CONTAINER),
        -(-total_bytes // _BINFILE_TARGET_CONTAINER_BYTES),
    )
    from pyspark.sql import Window as W

    docs = d.select(
        "doc_id",
        "source",
        F.col("text").alias("value"),
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).alias("bucket"),
        (F.octet_length("text") + 1).alias("n_bytes"),  # incl. newline
    )
    (
        docs.select("bucket", "doc_id", "value")
        .repartition(n_buckets, "bucket")
        .sortWithinPartitions("bucket", "doc_id")
        .select("bucket", "value")  # text() takes ONE data column
        .write.partitionBy("bucket")
        .mode("overwrite")
        .text(out)
    )
    w = (
        W.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = docs.select(
        "bucket",
        "doc_id",
        "source",
        "n_bytes",
        F.coalesce(F.sum("n_bytes").over(w), F.lit(0)).alias("offset"),
    )
    per_bucket = offsets.groupBy("bucket").agg(
        F.sort_array(
            F.collect_list(F.struct("doc_id", "offset", "n_bytes", "source"))
        ).alias("docs")
    )
    blobs = spark.read.format("binaryFile").load(out)
    sliced = (
        blobs.select(F.col("bucket").cast("bigint").alias("bucket"), "content")
        .join(per_bucket, "bucket")  # 1:1 — one blob, one offset array
        .select(F.explode("docs").alias("m"), "content")
        .select(
            F.col("m.source").alias("source"),
            (
                F.octet_length(
                    F.expr(
                        "substring(content, CAST(m.offset AS INT) + 1,"
                        " CAST(m.n_bytes AS INT))"
                    )
                )
                - 1
            ).alias("nb"),
        )
    )
    return sliced.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("nb").alias("total_bytes"),
    )
