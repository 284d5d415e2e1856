"""Tests for the LLM-pipeline operators: the approximate paths
(MinHash-LSH, SimHash, ANN-LSH) are audited against their exact
oracle-verified baselines — the same relationship a 100 TB deployment
relies on (run the cheap approximate op, sample-audit with the exact
one)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.dedup import (
    dedup_exact,
    dedup_fuzzy_minhash,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from watermill_kinesis_spark.functions.imaging import decode_image_features
from watermill_kinesis_spark.operators.multimodal import multimodal_feature_extract
from watermill_kinesis_spark.operators.similarity import (
    TOP_K,
    similarity_ann_lsh,
    similarity_topk,
)
from watermill_kinesis_spark.operators.text import doc_fingerprint, text_stats


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """LSH banding (16×8) must catch essentially all true Jaccard≥0.6
    pairs; at J≥0.6 the S-curve gives each pair ≥79% per-band union —
    on the testdata the catch is complete."""
    exact = {
        (r.doc_a, r.doc_b) for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup_fuzzy_minhash(spark, sf_dir).collect()}
    assert lsh <= exact or not exact, "LSH verify stage must not admit false pairs"
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.9, f"minhash recall {recall:.2f} < 0.9 ({len(exact)} true pairs)"


def test_simhash_pairs_are_near_dups(spark, sf_dir):
    """SimHash hamming tracks token overlap: hamming 0 pairs share
    most tokens; hamming ≤3 pairs still overlap substantially. The
    sample is DETERMINISTIC (lowest (hamming, doc_a, doc_b) first) —
    the old unordered limit(20) made the assertion depend on which
    pairs a partitioning happened to surface (a 64-bit sketch does not
    strictly bound token jaccard, so sampled thresholds must be
    calibrated to the tail, not the lucky head)."""
    import pyspark.sql.functions as F

    pairs = (
        dedup_simhash(spark, sf_dir)
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(30)
        .collect()
    )
    if not pairs:
        pytest.skip("no simhash pairs at this sf")
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    jaccs = []
    for p in pairs:
        a, b = docs[p.doc_a], docs[p.doc_b]
        jacc = len(a & b) / len(a | b)
        jaccs.append((p.hamming, jacc))
        if p.hamming == 0:
            assert jacc > 0.5, (
                f"hamming-0 pair ({p.doc_a},{p.doc_b}) jaccard {jacc:.2f}"
            )
        else:
            assert jacc > 0.3, (
                f"simhash pair ({p.doc_a},{p.doc_b}) h={p.hamming} "
                f"jaccard {jacc:.2f}"
            )
    # and the sample is similarity-dense overall, not just above floors
    assert sum(j for _, j in jaccs) / len(jaccs) > 0.5


def test_dedup_exact_keeps_lowest_id(spark, sf_dir):
    out = dedup_exact(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    n_distinct = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("text")
        .distinct()
        .count()
    )
    assert out.count() == n_distinct <= n_docs


def test_ann_recall_audit_twins_verdict_green(spark, sf_dir):
    """r7: the oracle-backed twins of the rows-only ANN entries must
    report recall_ok=1 (the value the oracle pins) and an exact-top1
    anchor that matches the brute-force baseline."""
    from watermill_kinesis_spark.operators.similarity import (
        ann_ivf_recall_audit,
        ann_lsh_recall_audit,
    )

    top1 = {
        r.query_id: r.neighbor_id
        for r in similarity_topk(spark, sf_dir).collect()
        if r.rank == 1
    }
    for fn in (ann_lsh_recall_audit, ann_ivf_recall_audit):
        row = fn(spark, sf_dir).collect()[0]
        assert row.recall_ok == 1, f"{fn.__name__}: recall below floor"
        assert row.n_queries == len(top1)
        assert row.exact_top1_sum == sum(top1.values())


def test_hll_merge_audit_matches_direct_daily_estimate(spark, sf_dir):
    """r7: the merge twin's verdict must be 1 on every day, and the
    hourly→daily union path must agree with sketching each day
    directly (the mergeability property itself)."""
    from watermill_kinesis_spark.operators.frequency import hll_merge_accuracy_audit
    from watermill_kinesis_spark.sources.tables import load_table as _lt

    rows = hll_merge_accuracy_audit(spark, sf_dir).collect()
    assert rows and all(r.merge_within_bound == 1 for r in rows)
    ev = _lt(spark, sf_dir, "events")
    direct = {
        r.day: r.est
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    merged_days = {r.day for r in rows}
    assert merged_days == set(direct)


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    """Banded sign-LSH top-k vs brute force: demand ≥40% overlap in the
    top-k sets (8 bands × 6 bits is tuned for ~0.5-cos neighbors; exact
    recall is data-dependent — the invariant is 'finds mostly the same
    neighbors, never a better-than-exact one')."""
    exact = {}
    for r in similarity_topk(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in similarity_ann_lsh(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert exact, "exact top-k returned nothing"
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.items() and exact.values())
    assert hits / total >= 0.4, f"ANN recall {hits}/{total}"
    for q, nbrs in approx.items():
        assert len(nbrs) <= TOP_K


def _png_bytes(w: int, h: int, color_type: int = 2) -> bytes:
    import struct, zlib

    ihdr = struct.pack(">II5B", w, h, 8, color_type, 0, 0, 0)
    chunk = struct.pack(">I", 13) + b"IHDR" + ihdr
    chunk += struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    return b"\x89PNG\r\n\x1a\n" + chunk


def _jpeg_bytes(w: int, h: int, ncomp: int = 3) -> bytes:
    import struct

    # APP0 length 16 = 2 (len) + 5 ("JFIF\0") + 2 (version) + 1 (units)
    # + 4 (density) + 2 (thumbnail)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00" + b"\x00" * 6
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    sof0 += bytes(3 * ncomp)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_image_header_decode_real_fixtures():
    """The pure-Python header parser extracts true dimensions from
    hand-built PNG / JPEG / GIF / BMP containers — no imaging lib."""
    import struct

    from watermill_kinesis_spark.functions.imaging import (
        decode_image_pixels,
        sniff_image,
    )

    assert decode_image_features(_png_bytes(640, 480)) == (640, 480, "RGB")
    assert decode_image_features(_png_bytes(31, 7, color_type=0)) == (31, 7, "L")
    assert decode_image_features(_jpeg_bytes(1920, 1080)) == (1920, 1080, "RGB")
    assert decode_image_features(_jpeg_bytes(64, 32, ncomp=1)) == (64, 32, "L")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 3
    assert decode_image_features(gif) == (320, 200, "P")
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 800, -600) + b"\x00" * 4
    assert decode_image_features(bmp) == (800, 600, "RGB")
    # hostile / truncated / non-image inputs never crash the kernel
    assert sniff_image(b"\x89PNG...") is None
    assert sniff_image(b"\xff\xd8\xff") is None
    assert sniff_image(b"plain text payload") is None
    assert sniff_image(b"") is None
    with pytest.raises(ValueError):
        decode_image_features(b"not an image")
    # PNG pixels decode for real since round 4; a header-only PNG
    # (no IDAT) is malformed and must fail CLEANLY, not with a raw
    # zlib error
    with pytest.raises(ValueError, match="IDAT"):
        decode_image_pixels(_png_bytes(1, 1))
    # JPEG pixels decode for real since round 5; a header-only JPEG
    # (SOF but no scan) is malformed and must fail CLEANLY
    with pytest.raises(ValueError, match="SOF/SOS"):
        decode_image_pixels(_jpeg_bytes(8, 8))


def test_multimodal_feature_extract_mixed_payloads(spark):
    """End-to-end mapInPandas: real image payloads decode through the
    header parser (decoder column names the container), text payloads
    fall back to the deterministic fake decoder."""
    rows = [
        (1, bytearray(_png_bytes(12, 34)), {"mime": "image/png"}),
        (2, bytearray(_jpeg_bytes(56, 78)), {"mime": "image/jpeg"}),
        (3, bytearray(b"just some text"), {"mime": "text/plain"}),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, meta map<string,string>"
    )
    from watermill_kinesis_spark.operators.multimodal import extract_image_features

    out = {r.doc_id: r for r in extract_image_features(df).collect()}
    assert (out[1].width, out[1].height, out[1].decoder) == (12, 34, "png")
    assert (out[2].width, out[2].height, out[2].decoder) == (56, 78, "jpeg")
    assert out[3].decoder == "fake"


def test_multimodal_feature_extract_table(spark, sf_dir):
    """Over the text-backed documents table every payload takes the
    fake-decoder fallback; one typed feature row per asset."""
    feats = multimodal_feature_extract(spark, sf_dir)
    rows = feats.collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows[:10]:
        assert r.n_bytes > 0 and r.width >= 16 and r.height >= 16
        assert r.mode in ("RGB", "L")
        assert r.decoder == "fake"


def test_text_stats_invariants(spark, sf_dir):
    for r in text_stats(spark, sf_dir).limit(50).collect():
        assert r.n_distinct_tokens <= r.n_tokens
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert r.n_chars >= r.n_tokens  # tokens are ≥1 char + separators


def test_fingerprint_is_content_hash(spark, sf_dir):
    """Same text ⇒ same fingerprint; fingerprint in [0, FP_MOD)."""
    from watermill_kinesis_spark.operators.text import FP_MOD

    rows = doc_fingerprint(spark, sf_dir).collect()
    assert all(0 <= r.fingerprint < FP_MOD for r in rows)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    text_by_id = {r.doc_id: r.text for r in docs}
    fp_by_id = {r.doc_id: r.fingerprint for r in rows}
    by_text = {}
    for did, t in text_by_id.items():
        by_text.setdefault(t, set()).add(fp_by_id[did])
    for t, fps in by_text.items():
        assert len(fps) == 1, "identical text must fingerprint identically"


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    """IVF (label-centroid cells, nprobe=2) vs brute force: same
    contract as the LSH audit — mostly the same neighbors, never more
    than k, and candidate generation restricted to probed cells."""
    from watermill_kinesis_spark.operators.similarity import similarity_ann_ivf

    exact = {}
    for r in similarity_topk(spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx = {}
    for r in similarity_ann_ivf(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert exact, "exact top-k returned nothing"
    hits = sum(len(approx.get(q, set()) & nbrs) for q, nbrs in exact.items())
    total = sum(len(nbrs) for nbrs in exact.values())
    assert hits / total >= 0.3, f"IVF recall {hits}/{total}"
    for q, nbrs in approx.items():
        assert len(nbrs) <= TOP_K


def test_cluster_canonical_is_fixpoint(spark, sf_dir):
    """Cluster labels are a true connected-components fixpoint: both
    endpoints of every near-dup edge share a cluster id, exactly one
    canonical doc per cluster, and it is the minimum member."""
    from watermill_kinesis_spark.operators.dedup import dedup_cluster_canonical

    labels = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup_cluster_canonical(spark, sf_dir).collect()
    }
    for r in dedup_ngram_jaccard(spark, sf_dir).collect():
        assert labels[r.doc_a][0] == labels[r.doc_b][0], (
            f"edge ({r.doc_a},{r.doc_b}) crosses clusters"
        )
    by_cluster = {}
    for did, (cid, canon) in labels.items():
        by_cluster.setdefault(cid, []).append((did, canon))
    for cid, members in by_cluster.items():
        canons = [d for d, c in members if c == 1]
        assert canons == [min(d for d, _ in members)] and cid == canons[0]


def test_connected_components_long_chain(spark):
    """Pointer doubling converges on a 100-link path graph (diameter
    100 ≫ the 20-sweep budget a pure propagation loop would need):
    every node must land in component 0, within CC_MAX_ITERS sweeps."""
    from watermill_kinesis_spark.operators.dedup import connected_components

    n = 101  # nodes 0..100 chained 0-1-2-...-100
    nodes = spark.range(n).select(F.col("id").alias("doc_id"))
    fwd = spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    edges = fwd.union(
        fwd.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = {r.doc_id: r.comp for r in connected_components(nodes, edges).collect()}
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_connected_components_multi_component(spark):
    """Disjoint chains + isolated nodes each keep their own min label."""
    from watermill_kinesis_spark.operators.dedup import connected_components

    nodes = spark.range(60).select(F.col("id").alias("doc_id"))
    # chain A: 0..24, chain B: 30..49; 25-29 and 50-59 isolated
    fwd = spark.range(24).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    ).union(
        spark.range(30, 49).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
    )
    edges = fwd.union(
        fwd.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = {r.doc_id: r.comp for r in connected_components(nodes, edges).collect()}
    for d in range(25):
        assert labels[d] == 0
    for d in range(30, 50):
        assert labels[d] == 30
    for d in list(range(25, 30)) + list(range(50, 60)):
        assert labels[d] == d


def test_connected_components_asymmetric_edges(spark):
    """An edge list carrying only ONE direction per edge yields the
    same undirected components (VERDICT r13 task 8: the r13 sweep
    rework silently required symmetric input — a node appearing only
    as doc_b was labeled isolated while labels flowed one way). The
    default symmetrizes internally; ``symmetric_edges=True`` is the
    compliant hot caller's opt-out."""
    from watermill_kinesis_spark.operators.dedup import connected_components

    nodes = spark.range(10).select(F.col("id").alias("doc_id"))
    # directed-only edges: 5→3 (label must flow BACK to 5), 1→2→8,
    # and 9 reached only as doc_b; 0, 4, 6, 7 isolated
    edges = spark.createDataFrame(
        [(5, 3), (1, 2), (2, 8), (8, 9)], "doc_a long, doc_b long"
    )
    labels = {
        r.doc_id: r.comp for r in connected_components(nodes, edges).collect()
    }
    assert labels == {
        0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 3, 6: 6, 7: 7, 8: 1, 9: 1,
    }
    # symmetric input gives identical output on both paths
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    fast = {
        r.doc_id: r.comp
        for r in connected_components(nodes, sym, symmetric_edges=True).collect()
    }
    assert fast == labels


def test_frame_sample_framing_math(spark, sf_dir):
    """Every sampled frame reproduces the local reference: stride-4
    sampling of 64-byte frames, crc32 per frame, offsets aligned."""
    import zlib

    from watermill_kinesis_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        multimodal_frame_sample,
    )

    out = {}
    for r in multimodal_frame_sample(spark, sf_dir).collect():
        out.setdefault(r.doc_id, []).append(r)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(25).collect()
    for d in docs:
        p = d.text.encode("utf-8")
        n_frames = (len(p) + FRAME_BYTES - 1) // FRAME_BYTES
        expect = list(range(0, n_frames, FRAME_STRIDE))
        got = sorted(out[d.doc_id], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == expect
        for r in got:
            fr = p[r.byte_offset : r.byte_offset + FRAME_BYTES]
            assert r.frame_bytes == len(fr)
            assert r.frame_crc == zlib.crc32(fr)


def test_hard_negatives_never_share_label(spark, sf_dir):
    from watermill_kinesis_spark.operators.similarity import N_QUERIES, TOP_K
    from watermill_kinesis_spark.registry import queries
    from watermill_kinesis_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = queries()["hard_negative_mining"](spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings")
    qlabels = {
        r["vec_id"]: r["label"]
        for r in e.where(F.col("vec_id") < N_QUERIES).collect()
    }
    assert {r["query_id"] for r in out} == set(qlabels)
    for r in out:
        assert 1 <= r["rank"] <= TOP_K
        assert r["neg_label"] != qlabels[r["query_id"]]


def test_vocab_coverage_bounds_and_totals(spark, sf_dir):
    from watermill_kinesis_spark.registry import queries
    from watermill_kinesis_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = queries()["vocab_induction"](spark, sf_dir).cache()
    try:
        d = load_table(spark, sf_dir, "documents")
        assert out.count() == d.count()
        rows = out.collect()
        for r in rows:
            assert 0 <= r["n_oov"] <= r["n_tokens"]
            assert abs(r["oov_rate"] - r["n_oov"] / r["n_tokens"]) < 1e-12
        # token conservation: Σ n_tokens == total corpus tokens
        total = d.select(F.sum(F.size(F.split("text", " ")))).first()[0]
        assert sum(r["n_tokens"] for r in rows) == total
    finally:
        out.unpersist()


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property: pointer-doubling CC equals a pure-Python union-find on
    random graphs (the reference implementation is 15 lines of
    path-compressed union-find — if they ever disagree, the
    distributed loop is wrong). Seeded RNG: deterministic in CI,
    diverse shapes (sparse, dense, self-loop-free, isolated nodes)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 40
        m = rng.randrange(10, 80)
        edge_set = set()
        while len(edge_set) < m:
            u, v = rng.randrange(n), rng.randrange(n)
            if u != v:
                edge_set.add((min(u, v), max(u, v)))

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edge_set:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        expected = {}
        for x in range(n):
            root = find(x)
            expected.setdefault(root, set()).add(x)
        # canonical label = min member of the component
        want = {x: min(members) for members in expected.values() for x in members}

        from watermill_kinesis_spark.operators.dedup import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        fwd = spark.createDataFrame(
            [(u, v) for u, v in edge_set], "doc_a long, doc_b long"
        )
        edges = fwd.union(
            fwd.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
        got = {r.doc_id: r.comp for r in connected_components(nodes, edges).collect()}
        assert got == want, f"seed {seed}: CC mismatch"


def test_embedding_cosine_pairs_empty_block_no_duplicates(spark):
    """Regression: an off-diagonal grid cell whose COLUMN block hashes
    empty must emit nothing — the old code misread an empty right side
    as 'diagonal cell' and re-emitted the row block's upper-triangle
    pairs, duplicating the true diagonal cell's output. A tiny corpus
    (5 vectors over 8 blocks ⇒ ≥3 empty blocks) triggers it
    deterministically."""
    from pyspark.sql import Row

    from watermill_kinesis_spark.operators.dedup import embedding_cosine_pairs

    # two near-identical vectors + three orthogonal-ish ones
    vecs = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
        (5, [0.7, 0.7, 0.0]),
    ]
    e = spark.createDataFrame(
        [Row(vec_id=i, emb=v) for i, v in vecs], "vec_id long, emb array<double>"
    )
    pairs = [(r.vec_a, r.vec_b) for r in embedding_cosine_pairs(e, 0.9).collect()]
    assert len(pairs) == len(set(pairs)), "duplicate pairs emitted"
    assert set(pairs) == {(1, 2)}


def test_png_pixel_decode_roundtrip_and_filters():
    """decode_image_pixels must invert encode_png for every color type,
    and undo all five PNG scanline filters (spec §9) — filtered
    scanlines are built by applying the filter forward, so the test is
    an exact inverse check, no imaging library anywhere."""
    import zlib

    import numpy as np

    from watermill_kinesis_spark.functions.imaging import (
        PNG_SIG,
        decode_image_pixels,
        encode_png,
    )

    rng = np.random.default_rng(7)
    # round trip through the filter-0 encoder: gray, LA, RGB, RGBA
    for ch in (1, 2, 3, 4):
        px = rng.integers(0, 256, size=(11, 7, ch), dtype=np.uint8)
        got = decode_image_pixels(encode_png(px))
        assert got.shape == (11, 7, ch)
        assert np.array_equal(got, px)

    # all five filter types on an RGB image: filter forward by hand,
    # decode must recover the original
    h, w, bpp = 6, 5, 3
    px = rng.integers(0, 256, size=(h, w * bpp), dtype=np.int64)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    lines = []
    for y in range(h):
        ftype = y % 5
        prev = px[y - 1] if y > 0 else np.zeros(w * bpp, dtype=np.int64)
        row = px[y]
        filt = np.empty(w * bpp, dtype=np.int64)
        for x in range(w * bpp):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            pred = {0: 0, 1: a, 2: b, 3: (a + b) // 2, 4: paeth(a, b, c)}[ftype]
            filt[x] = (row[x] - pred) % 256
        lines.append(bytes([ftype]) + bytes(filt.astype(np.uint8)))

    def chunk(tag, data):
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + tag + data + crc.to_bytes(4, "big")

    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    png = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    got = decode_image_pixels(png)
    assert np.array_equal(got.reshape(h, w * bpp), px.astype(np.uint8))


def test_png_palette_and_errors():
    import numpy as np

    from watermill_kinesis_spark.functions.imaging import (
        decode_image_pixels,
        encode_png,
    )
    import zlib

    # palette image: indices expand through PLTE to RGB
    from watermill_kinesis_spark.functions.imaging import PNG_SIG

    def chunk(tag, data):
        crc = zlib.crc32(tag + data) & 0xFFFFFFFF
        return len(data).to_bytes(4, "big") + tag + data + crc.to_bytes(4, "big")

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 3, 0, 0, 0])
    scan = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    png = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", pal)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )
    got = decode_image_pixels(png)
    assert got.shape == (2, 2, 3)
    assert got[0, 0].tolist() == [255, 0, 0]
    assert got[1, 0].tolist() == [0, 0, 255]

    # non-image payloads still refuse pixel decode honestly; since
    # round 5 every recognized container decodes for real, so a bare
    # SOF0 fragment with no scan is a MALFORMED jpeg (ValueError),
    # not an unimplemented format
    import pytest

    with pytest.raises(ValueError):
        decode_image_pixels(b"definitely not an image")
    with pytest.raises(ValueError):
        decode_image_pixels(
            b"\xff\xd8\xff\xc0\x00\x11\x08\x00\x10\x00\x10\x03" + b"\x00" * 20
        )


def test_compression_ratio_exact_zlib_lengths(spark, sf_dir):
    """Rows-only entry contract: the kernel's compressed lengths must
    equal a direct zlib.compress outside Spark, byte-exactly, and the
    gate flag must follow the permille threshold."""
    import zlib

    from watermill_kinesis_spark.operators.text import (
        COMPRESS_LEVEL,
        COMPRESS_MAX_PERMILLE,
        compression_ratio_filter,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    rows = compression_ratio_filter(spark, sf_dir).collect()
    assert len(rows) == len(texts)
    for r in rows:
        raw = texts[r.doc_id].encode("utf-8")
        exp = len(zlib.compress(raw, COMPRESS_LEVEL))
        assert r.raw_bytes == len(raw)
        assert r.compressed_bytes == exp
        assert r.ratio_permille == exp * 1000 // len(raw)
        assert r.too_repetitive == (r.ratio_permille < COMPRESS_MAX_PERMILLE)
