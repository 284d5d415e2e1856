"""Operator invariants for ``text`` and ``evaluation``: brute-force pins
for skip-gram co-occurrence, the Welch drift audit, and Simpson
diversity — semantics the row-hash oracle can't express (the oracle
pins values; these pin meaning against independent Python recomputes).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.evaluation import welch_ttest_lengths
from watermill_kinesis_spark.operators.text import (
    SKIP_MIN_COUNT,
    SKIP_TOP_N,
    SKIP_W,
    simpson_diversity_tokens,
    skipgram_cooccurrence,
)
from watermill_kinesis_spark.sources.tables import load_table


def _texts(spark, sf_dir):
    return [
        r.text
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .collect()
    ]


def test_skipgram_matches_bruteforce(spark, sf_dir):
    """Independent O(n·W) Python recount of every (center, context)
    pair, then the same (count desc, x, y) total order and top-N."""
    cnt: Counter = Counter()
    for text in _texts(spark, sf_dir):
        w = text.split(" ")
        n = len(w)
        for i in range(n):
            lo, hi = max(0, i - SKIP_W), min(n - 1, i + SKIP_W)
            for j in range(lo, hi + 1):
                if j != i:
                    cnt[(w[i], w[j])] += 1
    expected = sorted(
        ((x, y, c) for (x, y), c in cnt.items() if c >= SKIP_MIN_COUNT),
        key=lambda t: (-t[2], t[0], t[1]),
    )[:SKIP_TOP_N]
    got = [
        (r.x, r.y, r.c_pair) for r in skipgram_cooccurrence(spark, sf_dir).collect()
    ]
    assert got == expected
    # counts are symmetric by construction: (x,y) and (y,x) agree
    assert all(cnt[(y, x)] == c for (x, y), c in cnt.items())


def test_welch_t2_matches_bruteforce(spark, sf_dir):
    """Per-source one-vs-rest Welch t² recomputed from raw lengths with
    Python floats; moments must be exactly equal, t² to float round-off
    (the engine folds the same doubles in the same order, but the
    brute-force recompute derives variance from raw values, so allow a
    relative envelope)."""
    rows = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    ).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(int(r.n_chars))
    allv = [v for vs in by_src.values() for v in vs]
    got = {r.source: r for r in welch_ttest_lengths(spark, sf_dir).collect()}
    assert set(got) == set(by_src)
    # every group + its complement partitions the corpus
    assert all(g.n1 + g.n2 == len(allv) for g in got.values())
    for src, vs in by_src.items():
        rest = [v for s, vv in by_src.items() if s != src for v in vv]
        g = got[src]
        assert (g.n1, g.s1, g.ss1) == (
            len(vs),
            sum(vs),
            sum(v * v for v in vs),
        )
        assert (g.n2, g.s2, g.ss2) == (
            len(rest),
            sum(rest),
            sum(v * v for v in rest),
        )
        if len(vs) >= 2 and len(rest) >= 2:
            m1, m2 = sum(vs) / len(vs), sum(rest) / len(rest)
            v1 = sum((v - m1) ** 2 for v in vs) / (len(vs) - 1)
            v2 = sum((v - m2) ** 2 for v in rest) / (len(rest) - 1)
            se2 = v1 / len(vs) + v2 / len(rest)
            if se2 > 0:
                t2 = (m1 - m2) ** 2 / se2
                assert g.welch_t2 is not None
                assert math.isclose(g.welch_t2, t2, rel_tol=1e-9)
            else:
                assert g.welch_t2 is None


def test_kneser_ney_matches_bruteforce(spark, sf_dir):
    """Independent Python recompute of unigram counts, distinct bigram
    types, left/right continuation type-counts, and the permille."""
    from watermill_kinesis_spark.operators.text import KN_TOP_N, kneser_ney_continuation

    uni: Counter = Counter()
    types = set()
    for text in _texts(spark, sf_dir):
        w = text.split(" ")
        uni.update(w)
        types.update(zip(w, w[1:]))
    nl: Counter = Counter(y for _, y in types)
    nr: Counter = Counter(x for x, _ in types)
    bt = len(types)
    expected = sorted(
        (
            (tok, c, nl.get(tok, 0), nr.get(tok, 0), 1000 * nl.get(tok, 0) // bt)
            for tok, c in uni.items()
        ),
        key=lambda t: (-t[2], t[0]),
    )[:KN_TOP_N]
    got = [
        (r.tok, r.c_tok, r.n_left_contexts, r.n_right_contexts, r.cont_permille)
        for r in kneser_ney_continuation(spark, sf_dir).collect()
    ]
    assert got == expected
    # sanity: continuation mass sums to the type count on both sides
    assert sum(nl.values()) == bt == sum(nr.values())


def test_t_closeness_matches_bruteforce(spark, sf_dir):
    """Independent recompute with exact Fractions: per-QI variational
    distance of the segment distribution vs the corpus distribution,
    threshold compare, rows-at-risk and max distance."""
    from fractions import Fraction

    from watermill_kinesis_spark.operators.governance import (
        KANON_BAL_BAND,
        TCLOSE_T_MILLE,
        t_closeness_audit,
    )

    rows = (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal", "c_mktsegment")
        .collect()
    )
    glob: Counter = Counter()
    groups: dict = {}
    for r in rows:
        band = math.floor(float(r.c_acctbal) / KANON_BAL_BAND)
        glob[r.c_mktsegment] += 1
        groups.setdefault((r.c_nationkey, band), Counter())[r.c_mktsegment] += 1
    n = sum(glob.values())
    n_viol = rows_at_risk = 0
    max_dist = Fraction(0)
    for cnt in groups.values():
        sz = sum(cnt.values())
        dist = sum(
            abs(Fraction(cnt.get(s, 0), sz) - Fraction(g, n))
            for s, g in glob.items()
        ) / 2
        max_dist = max(max_dist, dist)
        if dist > Fraction(TCLOSE_T_MILLE, 1000):
            n_viol += 1
            rows_at_risk += sz
    got = t_closeness_audit(spark, sf_dir).collect()[0]
    assert got.n_groups == len(groups)
    assert got.n_violating_groups == n_viol
    assert got.n_rows_at_risk == rows_at_risk
    # floor is monotone, so floor(max fraction) == max(per-group floors)
    assert got.max_dist_permille == (
        1000 * max_dist.numerator // max_dist.denominator
    )
    # the threshold must split: both branches exercised on every SF
    assert 0 < n_viol < len(groups)


def test_wilson_lower_bound_matches_bruteforce(spark, sf_dir):
    """Recompute the Wilson 95% lower bound per supplier in Python and
    pin the ranking property the raw rate violates: a tiny all-return
    group must not outrank a large nearly-all-return group."""
    from watermill_kinesis_spark.operators.evaluation import (
        WILSON_TOP_N,
        wilson_lower_bound_rank,
    )

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_returnflag")
        .collect()
    )
    agg: dict = {}
    for r in rows:
        n, ret = agg.get(r.l_suppkey, (0, 0))
        agg[r.l_suppkey] = (n + 1, ret + (r.l_returnflag == "R"))
    z = 1.96

    def wlb(n, r):
        p = r / n
        return (
            p + z * z / (2 * n) - z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        ) / (1 + z * z / n)

    expected = sorted(
        ((k, n, r, wlb(n, r)) for k, (n, r) in agg.items()),
        key=lambda t: (-t[3], t[0]),
    )[:WILSON_TOP_N]
    got = wilson_lower_bound_rank(spark, sf_dir).collect()
    assert [(g.l_suppkey, g.n, g.r) for g in got] == [
        (k, n, r) for k, n, r, _ in expected
    ]
    for g, (_, _, _, w) in zip(got, expected):
        assert math.isclose(g.wilson_lb, w, rel_tol=1e-12)
        # the bound is strictly below the raw rate and within [0, 1)
        assert 0.0 <= g.wilson_lb < g.r / g.n or g.r == 0


def test_vocab_jaccard_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.text import vocab_jaccard_sources

    rows = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", "text")
        .collect()
    )
    vocab: dict = {}
    for r in rows:
        vocab.setdefault(r.source, set()).update(r.text.split(" "))
    got = {
        (r.src_a, r.src_b): r for r in vocab_jaccard_sources(spark, sf_dir).collect()
    }
    srcs = sorted(vocab)
    n_pairs = 0
    for i, sa in enumerate(srcs):
        for sb in srcs[i + 1 :]:
            inter = len(vocab[sa] & vocab[sb])
            if inter == 0:
                assert (sa, sb) not in got
                continue
            n_pairs += 1
            r = got[(sa, sb)]
            assert (r.v_a, r.v_b, r.n_common) == (
                len(vocab[sa]),
                len(vocab[sb]),
                inter,
            )
            union = len(vocab[sa] | vocab[sb])
            assert r.jaccard_permille == 1000 * inter // union
    assert len(got) == n_pairs


def test_chao1_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.text import chao1_vocab_richness

    rows = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("source", "text")
        .collect()
    )
    per_src: dict = {}
    for r in rows:
        per_src.setdefault(r.source, Counter()).update(r.text.split(" "))
    got = {r.source: r for r in chao1_vocab_richness(spark, sf_dir).collect()}
    assert set(got) == set(per_src)
    for src, cnt in per_src.items():
        k = len(cnt)
        f1 = sum(1 for v in cnt.values() if v == 1)
        f2 = sum(1 for v in cnt.values() if v == 2)
        g = got[src]
        assert (g.n_types, g.f1, g.f2) == (k, f1, f2)
        assert g.chao1_x1000 == 1000 * k + (1000 * f1 * (f1 - 1)) // (
            2 * (f2 + 1)
        )
        # the estimator never goes below the observed richness
        assert g.chao1_x1000 >= 1000 * k


def test_good_turing_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.text import GT_N_ROWS, good_turing_discounts

    bi: Counter = Counter()
    for text in _texts(spark, sf_dir):
        w = text.split(" ")
        bi.update(zip(w, w[1:]))
    fof: Counter = Counter(bi.values())
    low = sorted(fof)[:GT_N_ROWS]
    got = good_turing_discounts(spark, sf_dir).collect()
    assert [g.r for g in got] == low
    for g in got:
        nr, nr1 = fof[g.r], fof.get(g.r + 1, 0)
        assert (g.n_r, g.n_r1) == (nr, nr1)
        assert g.r_star_x1000 == (1000 * (g.r + 1) * nr1) // nr
    # non-vacuity: the adaptive cutoff must produce rows on every SF
    assert len(got) > 0


def test_welch_null_nchars_excluded_handcrafted(spark, monkeypatch):
    """The NULL-n_chars guard is unreachable on driver testdata (no
    NULLs exist), and oracle parity can't catch its absence (both
    engines would mix populations identically) — so pin it on a
    handcrafted frame: a NULL row must not count toward n1 while the
    sums skip it."""
    import watermill_kinesis_spark.operators.evaluation as evaluation

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", None), ("b", 30), ("b", 40), ("b", 50)],
        "source string, n_chars int",
    )
    monkeypatch.setattr(evaluation, "load_table", lambda _s, _d, _t: df)
    got = {r.source: r for r in evaluation.welch_ttest_lengths(spark, "_").collect()}
    a, b = got["a"], got["b"]
    # the NULL row is excluded from BOTH the count and the sums
    assert (a.n1, a.s1, a.ss1) == (2, 30, 500)
    assert (b.n1, b.s1, b.ss1) == (3, 120, 5000)
    assert (a.n2, a.s2, a.ss2) == (3, 120, 5000)
    assert a.n1 + a.n2 == 5  # 6 rows minus the NULL one


def test_token_dispersion_matches_bruteforce(spark, sf_dir):
    """Exact-fraction recompute of both statistics: Fano factor of
    per-doc counts (zeros included) and Gries' DP over sources."""
    from fractions import Fraction

    from watermill_kinesis_spark.operators.text import (
        DISP_TOP_N,
        token_dispersion_stats,
    )

    rows = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "source", "text")
        .collect()
    )
    n_docs = len({r.doc_id for r in rows})
    per_doc: dict = {}
    per_src: dict = {}
    w: Counter = Counter()
    for r in rows:
        toks = r.text.split(" ")
        w[r.source] += len(toks)
        for t in toks:
            per_doc.setdefault(t, Counter())[r.doc_id] += 1
            per_src.setdefault(t, Counter())[r.source] += 1
    wtot = sum(w.values())
    stats = []
    for tok, dc in per_doc.items():
        s1 = sum(dc.values())
        s2 = sum(v * v for v in dc.values())
        fano = Fraction(1000 * (n_docs * s2 - s1 * s1), n_docs * s1)
        dp = (
            sum(
                abs(Fraction(per_src[tok].get(s, 0), s1) - Fraction(w[s], wtot))
                for s in w
            )
            / 2
        )
        stats.append(
            (
                tok,
                s1,
                len(dc),
                fano.numerator // fano.denominator,
                (1000 * dp.numerator) // dp.denominator,
            )
        )
    expected = sorted(stats, key=lambda t: (-t[1], t[0]))[:DISP_TOP_N]
    got = [
        (r.tok, r.c_tok, r.df, r.fano_x1000, r.dp_x1000)
        for r in token_dispersion_stats(spark, sf_dir).collect()
    ]
    assert got == expected
    # DP is a distance in [0, 1]; Fano is non-negative (Cauchy-Schwarz)
    assert all(0 <= d <= 1000 and f >= 0 for *_, f, d in got)


def test_err_matches_cascade_bruteforce(spark, sf_dir):
    """Recompute ERR@k with exact Fractions straight from the cascade
    definition (stop-probability product form), independently of the
    operator's prefix-count formulation, and check the integer
    scaling is lossless."""
    from fractions import Fraction

    from watermill_kinesis_spark.operators.retrieval import (
        ERR_SCALE,
        expected_reciprocal_rank,
        _ranked_with_labels,
    )
    from watermill_kinesis_spark.operators.similarity import TOP_K

    ranked = _ranked_with_labels(spark, sf_dir).collect()
    per_q: dict = {}
    for r in ranked:
        if r.rank <= TOP_K:
            per_q.setdefault(r.query_id, []).append(
                (r.rank, int(r.n_label == r.q_label))
            )
    got = {
        r.query_id: r for r in expected_reciprocal_rank(spark, sf_dir).collect()
    }
    assert set(got) == set(per_q)
    for qid, rows in per_q.items():
        rows.sort()
        err = Fraction(0)
        p_continue = Fraction(1)
        for rank, rel in rows:
            stop = Fraction(rel, 2)  # binary grade, gmax=1 ⇒ R ∈ {0, ½}
            err += Fraction(1, rank) * stop * p_continue
            p_continue *= 1 - stop
        scaled = err * ERR_SCALE
        assert scaled.denominator == 1  # the scale is lossless
        g = got[qid]
        assert getattr(g, f"err_scaled_{ERR_SCALE}") == scaled.numerator
        assert g.n_relevant_topk == sum(rel for _, rel in rows)


def test_protobuf_envelope_golden_bytes_and_roundtrip():
    """Spec pins for the protobuf envelope codec (the reference's
    marshaller.go:24 TODO): hand-assembled proto3 wire bytes for a
    known envelope, deterministic map ordering, proto3 default
    elision, and the corrupt-input DecodeError contract."""
    import pytest

    from watermill_kinesis_spark.protocodec import (
        decode_envelope,
        encode_envelope,
    )

    # golden bytes, assembled by hand from the proto3 wire format:
    # uuid  : 0A 02 'a' 'b'
    # map   : 12 06 (0A 01 'k'  12 01 'v')
    # bytes : 1A 02 01 02
    wire = encode_envelope("ab", {"k": "v"}, b"\x01\x02")
    assert wire.hex() == "0a02616212060a016b1201761a020102"
    assert decode_envelope(wire) == ("ab", {"k": "v"}, b"\x01\x02")
    # deterministic=True sorts map entries by key — insertion order
    # must not leak into the wire
    md = {"source": "s1", "lang": "es"}
    assert encode_envelope("x", md, b"p") == encode_envelope(
        "x", dict(reversed(list(md.items()))), b"p"
    )
    # proto3 elides default-valued scalar fields: empty payload and
    # empty metadata contribute zero wire bytes
    assert len(encode_envelope("ab", {}, b"")) == 4
    # malformed input raises DecodeError (the corrupt-skip contract,
    # subscriber.go:54-59 semantics)
    from google.protobuf.message import DecodeError

    with pytest.raises(DecodeError):
        decode_envelope(b"\xff\xff\xff\xff\xff")
    # structurally-valid wire with invalid UTF-8 in a string field
    # raises UnicodeDecodeError on the pure-python runtime, NOT
    # DecodeError — the DataFrame decode path must treat it as poison
    with pytest.raises(UnicodeDecodeError):
        decode_envelope(b"\x0a\x01\xff")  # field 1, len 1, byte 0xff
    # roundtrip property over awkward shapes: unicode, NULs, empties
    cases = [
        ("", {}, b""),
        ("u", {"k": ""}, b"\x00" * 3),
        ("snowman ☃", {"é": "ü"}, "café".encode()),
    ]
    for u, m, p in cases:
        assert decode_envelope(encode_envelope(u, m, p)) == (u, m, p)


def test_proto_dataframe_codec_poison_and_null_tolerance(spark):
    """The DataFrame-shaped codec pair must skip-not-kill on BOTH
    poison classes (bad wire structure AND invalid-UTF-8 string
    fields), and marshal a NULL metadata VALUE as '' instead of
    crashing the publish job (proto3 maps cannot hold null — the
    verdict-flipping lossy coercion is documented)."""
    from pyspark.sql import functions as F

    from watermill_kinesis_spark.protocodec import (
        marshal_proto,
        unmarshal_proto,
    )

    msgs = spark.createDataFrame(
        [("u1", b"p1"), ("u2", b"p2")], "uuid string, payload binary"
    ).select(
        "uuid",
        "payload",
        F.create_map(
            F.lit("k"), F.when(F.col("uuid") == "u1", "v")
        ).alias("metadata"),  # u2's value is NULL
    )
    wire = marshal_proto(msgs)
    rows = wire.collect()
    assert len(rows) == 2  # NULL map value did not crash the encode
    poison = spark.createDataFrame(
        [(bytes(r.data),) for r in rows]
        + [(b"\xff\xff\xff\xff\xff",), (b"\x0a\x01\xff",)],
        "data binary",
    )
    back = unmarshal_proto(poison, drop_corrupt=True)
    got = {r.uuid: dict(r.metadata) for r in back.collect()}
    assert set(got) == {"u1", "u2"}  # both poison rows skipped
    assert got["u1"]["k"] == "v" and got["u2"]["k"] == ""


def test_proto_audit_null_lang_fails_loudly_not_fatally(spark, monkeypatch):
    """A NULL lang/source row (outside the audit's wire-size
    assumptions) must flip all_wire_len_exact to 0 — never crash the
    job: the encode UDF coerces None to '' and the per-row length
    verdict undercounts, exactly the loud-failure contract the
    docstring promises."""
    import watermill_kinesis_spark.operators.messages as msgs_mod

    df = spark.createDataFrame(
        [(0, "hello world", "es", "src0"), (1, "bonjour", None, "src1")],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(msgs_mod, "load_table", lambda _s, _d, _t: df)
    row = msgs_mod.envelope_proto_roundtrip(spark, "_").collect()[0]
    assert row.n_msgs == 2
    assert row.all_roundtrip == 0  # '' != NULL on the compare side
    assert row.all_wire_len_exact == 0  # NULL expected_len undercounts


def test_proto_audit_empty_corpus_vacuous_verdicts(spark, monkeypatch):
    """All-NULL-text corpus: verdicts must be the vacuous-true 1 the
    oracle pins (SUM over zero rows is NULL — the coalesce guard)."""
    import watermill_kinesis_spark.operators.messages as msgs_mod

    df = spark.createDataFrame(
        [(0, None, "es", "src0")],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(msgs_mod, "load_table", lambda _s, _d, _t: df)
    row = msgs_mod.envelope_proto_roundtrip(spark, "_").collect()[0]
    assert (row.n_msgs, row.total_wire_bytes) == (0, 0)
    assert row.all_roundtrip == 1 and row.all_wire_len_exact == 1


def test_proto_roundtrip_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.messages import (
        envelope_proto_roundtrip,
    )

    row = envelope_proto_roundtrip(spark, sf_dir).collect()[0]
    assert row.all_roundtrip == 1 and row.all_wire_len_exact == 1
    assert row.n_msgs > 0 and row.total_wire_bytes > 34 * row.n_msgs


def test_simpson_matches_bruteforce_and_bounds(spark, sf_dir):
    d = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .collect()
    }
    got = {r.doc_id: r for r in simpson_diversity_tokens(spark, sf_dir).collect()}
    for doc_id, text in d.items():
        toks = text.split(" ")
        n = len(toks)
        if n < 2:
            assert doc_id not in got
            continue
        c = Counter(toks)
        rep = sum(v * (v - 1) for v in c.values())
        r = got[doc_id]
        assert (r.n_tok, r.n_types) == (n, len(c))
        # trunc-toward-zero division (operands non-negative ⇒ == floor)
        assert r.simpson_permille == 1000 - (1000 * rep) // (n * (n - 1))
        assert 0 <= r.simpson_permille <= 1000
        # all-distinct doc scores exactly 1000; constant doc scores 0
        if len(c) == n:
            assert r.simpson_permille == 1000
        if len(c) == 1:
            assert r.simpson_permille == 0
