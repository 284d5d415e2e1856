"""Round-10 wave-2 operator invariants (pipeline9 + NDCG): brute-force
pins for the nonparametric-suite completions — Kruskal-Wallis H,
Brown-Forsythe/Levene W, Ansari-Bradley dispersion (its closed-form
span score re-derived by LITERAL per-rank summation), and NDCG@k
recomputed with exact Fractions against real log2 discounts.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.pipeline9 import (
    STAT_CLAMP,
    ansari_bradley_dispersion,
    kruskal_wallis_lengths,
    levene_brown_forsythe,
)
from watermill_kinesis_spark.sources.tables import load_table


def _length_rows(spark, sf_dir, key):
    return [
        (r.n_chars, r[key])
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col(key).isNotNull())
        .select("n_chars", key)
        .collect()
    ]


def test_kruskal_wallis_matches_bruteforce(spark, sf_dir):
    """Recompute H from literal sorted midranks (×2) and the engine's
    documented truncation points, then sanity-check the micro-unit H
    against the float formula."""
    rows = _length_rows(spark, sf_dir, "lang")
    vals = sorted(v for v, _ in rows)
    # 2*midrank per value: first+last 1-based position of the tie run
    first = {}
    for pos, v in enumerate(vals, start=1):
        first.setdefault(v, pos)
    count = Counter(vals)
    mid2 = {v: 2 * first[v] + count[v] - 1 for v in count}
    n_g: dict = defaultdict(int)
    r2_g: dict = defaultdict(int)
    for v, lang in rows:
        n_g[lang] += 1
        r2_g[lang] += mid2[v]
    n = len(rows)
    s = sum(r2_g[g] * r2_g[g] // (4 * n_g[g]) for g in n_g)
    t3t = sum(t * t * t - t for t in count.values())
    h_x1e6 = s * 12_000_000 // (n * (n + 1)) - 3 * (n + 1) * 1_000_000
    c_num = n * n * n - n
    if h_x1e6 <= 0 or c_num - t3t <= 0:
        h_tie = 0
    elif h_x1e6 * c_num > STAT_CLAMP * (c_num - t3t):
        h_tie = STAT_CLAMP
    else:
        h_tie = h_x1e6 * c_num // (c_num - t3t)

    got = {r.lang: r for r in kruskal_wallis_lengths(spark, sf_dir).collect()}
    assert set(got) == set(n_g)
    for lang, r in got.items():
        assert (r.n, r.rank_sum_x2) == (n_g[lang], r2_g[lang])
        assert r.mean_rank_x2 == r2_g[lang] // n_g[lang]
        assert (r.k_groups, r.n_total, r.tie_t3t) == (len(n_g), n, t3t)
        assert (r.h_x1e6, r.h_tie_x1e6) == (h_x1e6, h_tie)
    # rank-sum completeness: Σ 2R_g = 2·(1+…+N) = N(N+1)
    assert sum(r2_g.values()) == n * (n + 1)
    # the quantized H sits within k micro-scaled units of the float H
    h_float = (12.0 / (n * (n + 1))) * (s / 1.0) - 3 * (n + 1)
    assert abs(h_x1e6 / 1e6 - h_float) < 1e-3


def test_levene_brown_forsythe_matches_bruteforce(spark, sf_dir):
    """Recompute W from literal per-source medians and absolute
    deviations (all ×2 integers), mirroring the engine's micro-unit
    truncation points exactly."""
    rows = _length_rows(spark, sf_dir, "source")
    by_src: dict = defaultdict(list)
    for v, src in rows:
        by_src[src].append(v)
    stats = {}
    for src, xs in by_src.items():
        xs.sort()
        m = len(xs)
        m2 = xs[(m + 1) // 2 - 1] + xs[m // 2]  # v_lo + v_hi, 1-based
        zs = [abs(2 * x - m2) for x in xs]
        stats[src] = (m, sum(zs), sum(z * z for z in zs))
    n = sum(m for m, _, _ in stats.values())
    k = len(stats)
    stot = sum(s for _, s, _ in stats.values())
    qtot = sum(q for _, _, q in stats.values())
    a = sum(s * s * 1_000_000 // m for m, s, _ in stats.values())
    num = a - stot * stot * 1_000_000 // n
    den = qtot * 1_000_000 - a
    if num <= 0 or den <= 0 or k < 2:
        w = 0
    elif (n - k) * num * 1_000_000 > STAT_CLAMP * (k - 1) * den:
        w = STAT_CLAMP
    else:
        w = (n - k) * num * 1_000_000 // ((k - 1) * den)

    got = {r.source: r for r in levene_brown_forsythe(spark, sf_dir).collect()}
    assert set(got) == set(stats)
    for src, r in got.items():
        m, s, q = stats[src]
        assert (r.n, r.absdev_sum_x2, r.absdev_sumsq_x4) == (m, s, q)
        assert (r.k_groups, r.n_total, r.w_x1e6) == (k, n, w)
    # medians are genuine: at least one source has nonzero deviation
    assert any(s > 0 for _, s, _ in stats.values())


def test_ansari_bradley_matches_literal_rank_scores(spark, sf_dir):
    """Rebuild the AB statistic by LITERALLY scoring every 1-based
    rank with min(r, N+1−r) and averaging over tie runs — an
    independent derivation of the operator's closed-form span sums —
    then mirror the micro-unit truncation."""
    rows = _length_rows(spark, sf_dir, "lang")
    pairs = sorted((v, 1 if lang == "en" else 0) for v, lang in rows)
    n = len(pairs)
    score = lambda r: min(r, n + 1 - r)
    by_v: dict = defaultdict(list)
    for pos, (v, g) in enumerate(pairs, start=1):
        by_v[v].append((pos, g))
    ab = 0
    for v, entries in by_v.items():
        t = len(entries)
        rs2 = 2 * sum(score(pos) for pos, _ in entries)  # literal sum
        n1v = sum(g for _, g in entries)
        ab += n1v * rs2 * 1_000_000 // (2 * t)
    n1 = sum(g for _, g in pairs)
    n0 = n - n1
    if n % 2 == 0:
        e = n1 * (n + 2) * 1_000_000 // 4
    else:
        e = n1 * (n + 1) * (n + 1) * 1_000_000 // (4 * n)

    got = ansari_bradley_dispersion(spark, sf_dir).collect()[0]
    assert (got.n1, got.n0) == (n1, n0)
    assert got.ab_x1e6 == ab
    assert got.ab_expected_x1e6 == e
    assert got.dev_sign == (1 if ab >= e else -1)
    assert got.abs_dev_permille == 1000 * abs(ab - e) // max(e, 1)
    # total-score identity: Σ over ALL docs of the midscore equals the
    # exact closed form Σ_{r=1..N} min(r, N+1-r) (×1e6, integral since
    # every tie run's rs2 is even ⇒ Σ_g AB_g telescopes exactly when
    # run per-group; here check group-1 stat is bounded by the total)
    total = sum(score(r) for r in range(1, n + 1))
    assert 0 <= ab <= total * 1_000_000


def test_ndcg_matches_fraction_bruteforce(spark, sf_dir):
    """Recompute NDCG@k with exact integers straight from the shared
    ranked relation and the label table, and pin the discount
    constants against real math.log2 to 1 ulp of the scale."""
    from watermill_kinesis_spark.operators.retrieval import (
        NDCG_CUM,
        NDCG_SCALE,
        NDCG_W,
        _ranked_with_labels,
        ndcg_at_k,
    )
    from watermill_kinesis_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    # the constants really are the rounded log2 discounts
    for r, w in enumerate(NDCG_W, start=1):
        assert abs(w - NDCG_SCALE / math.log2(r + 1)) <= 0.5
    assert NDCG_CUM[0] == 0 and len(NDCG_CUM) == TOP_K + 1
    assert all(
        NDCG_CUM[m] - NDCG_CUM[m - 1] == NDCG_W[m - 1]
        for m in range(1, TOP_K + 1)
    )

    ranked = _ranked_with_labels(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    labels = {r.vec_id: r.label for r in e.collect()}
    per_q: dict = defaultdict(list)
    for r in ranked:
        if r.rank <= TOP_K:
            per_q[r.query_id].append((r.rank, int(r.n_label == r.q_label)))
    got = {r.query_id: r for r in ndcg_at_k(spark, sf_dir).collect()}
    assert set(got) == set(per_q) and len(got) == N_QUERIES
    for qid, rows in per_q.items():
        q_label = labels[qid]
        n_rel_corpus = sum(
            1 for vid, lab in labels.items() if lab == q_label and vid != qid
        )
        dcg = sum(NDCG_W[rank - 1] * rel for rank, rel in rows)
        idcg = NDCG_CUM[min(n_rel_corpus, TOP_K)]
        g = got[qid]
        assert g.n_relevant_topk == sum(rel for _, rel in rows)
        assert g.n_relevant_corpus == n_rel_corpus
        assert g.dcg_scaled == dcg
        assert g.idcg_scaled == idcg
        assert g.ndcg_permille == 1000 * dcg // max(idcg, 1)
        # NDCG ∈ [0, 1000]: the ideal ranking really is an upper bound
        assert 0 <= g.ndcg_permille <= 1000


def test_binary_quant_hamming_matches_bruteforce(spark, sf_dir):
    """Recompute sign codes and Hamming ranking per query in plain
    Python from the raw embeddings — independently of both the packed
    bit-ops path and the distance-domain cutoff trick."""
    from watermill_kinesis_spark.operators.similarity import (
        binary_quant_hamming_topk,
    )
    from watermill_kinesis_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    vecs = {r.vec_id: [1 if x > 0 else 0 for x in r.embedding] for r in e.collect()}
    expected = {}
    for qid in range(N_QUERIES):
        qb = vecs[qid]
        scored = sorted(
            (sum(a != b for a, b in zip(qb, vecs[v])), v)
            for v in vecs
            if v != qid
        )
        expected[qid] = [
            (v, h, rank + 1) for rank, (h, v) in enumerate(scored[:TOP_K])
        ]
    got: dict = {}
    for r in binary_quant_hamming_topk(spark, sf_dir).collect():
        got.setdefault(r.query_id, []).append(
            (r.neighbor_id, r.hamming, r.rank)
        )
    for qid in got:
        got[qid].sort(key=lambda t: t[2])
    assert got == expected
    # distances are monotone in rank and within the 64-bit domain
    for rows in got.values():
        hs = [h for _, h, _ in rows]
        assert hs == sorted(hs) and all(0 <= h <= 64 for h in hs)


def test_cochran_armitage_matches_bruteforce(spark, sf_dir):
    """Recompute the trend moments from a literal join and the z from
    the same exact integers with Python floats."""
    from watermill_kinesis_spark.operators.pipeline9 import (
        cochran_armitage_trend,
    )

    li = {
        r.l_orderkey: r
        for r in load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .collect()
    }
    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .collect()
    )
    orders = {
        r.o_orderkey: int(r.o_orderpriority[0])
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .collect()
    }
    n_g: dict = defaultdict(int)
    r_g: dict = defaultdict(int)
    for r in rows:
        w = orders[r.l_orderkey]
        n_g[w] += 1
        r_g[w] += int(r.l_returnflag == "R")
    n = sum(n_g.values())
    rtot = sum(r_g.values())
    swn = sum(w * n_g[w] for w in n_g)
    swr = sum(w * r_g[w] for w in n_g)
    sw2n = sum(w * w * n_g[w] for w in n_g)
    a = n * swr - rtot * swn
    b = rtot * (n - rtot) * (n * sw2n - swn * swn)
    z = a * math.sqrt(n) / math.sqrt(b) if b > 0 else 0.0

    got = {r.priority_class: r for r in cochran_armitage_trend(spark, sf_dir).collect()}
    assert set(got) == set(n_g)
    for w, r in got.items():
        assert (r.n, r.n_returned) == (n_g[w], r_g[w])
        assert r.return_permille == 1000 * r_g[w] // n_g[w]
        assert (r.n_total, r.trend_numer_xn) == (n, a)
        assert math.isclose(r.z, z, rel_tol=1e-12)
    # the weights really span the 5 TPC-H priority classes
    assert set(n_g) == {1, 2, 3, 4, 5}


def test_mcnemar_matches_bruteforce(spark, sf_dir):
    """Rebuild the per-customer paired flags and the 2×2 cells from
    literal collections."""
    from watermill_kinesis_spark.operators.pipeline9 import (
        mcnemar_paired_returns,
    )

    order_ret: dict = defaultdict(int)
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .collect()
    ):
        order_ret[r.l_orderkey] |= int(r.l_returnflag == "R")
    h: dict = defaultdict(lambda: [0, 0])
    for r in (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .collect()
    ):
        half = 0 if r.o_orderdate.month <= 6 else 1
        h[r.o_custkey][half] |= order_ret.get(r.o_orderkey, 0)
    n_pairs = len(h)
    both = sum(1 for a, c in h.values() if a and c)
    b = sum(1 for a, c in h.values() if a and not c)
    c = sum(1 for a, cc in h.values() if not a and cc)
    neither = n_pairs - both - b - c
    x2 = (b - c) ** 2 * 1_000_000 // (b + c) if b + c else 0
    x2c = (
        (abs(b - c) - 1) ** 2 * 1_000_000 // (b + c)
        if b + c and abs(b - c) >= 1
        else 0
    )
    got = mcnemar_paired_returns(spark, sf_dir).collect()[0]
    assert (
        got.n_pairs,
        got.both_ret,
        got.h1_only,
        got.h2_only,
        got.neither,
        got.mcnemar_x2_micro,
        got.mcnemar_x2_corrected_micro,
    ) == (n_pairs, both, b, c, neither, x2, x2c)
    # cells partition the pair population
    assert both + b + c + neither == n_pairs


def test_kmv_sketch_is_exact_k_minima_and_estimator_sound(spark, sf_dir):
    """The distributed fold must produce EXACTLY the k smallest rotated
    bigram hashes per source (recomputed via a full literal sort), and
    the audit flags must equal a Python re-derivation of estimator +
    bound from those minima."""
    from watermill_kinesis_spark.operators.frequency import (
        KMV_K,
        _kmv_bigrams,
        _kmv_sketches,
        kmv_distinct_audit,
    )

    bi = _kmv_bigrams(spark, sf_dir)
    hashed = bi.select(
        "source",
        F.xxhash64("x", "y").bitwiseXOR(F.lit(-(2**63))).alias("h"),
    ).collect()
    exact_minima: dict = defaultdict(list)
    exact_counts: dict = defaultdict(int)
    for r in hashed:
        exact_minima[r.source].append(r.h)
        exact_counts[r.source] += 1
    for src in exact_minima:
        exact_minima[src] = sorted(set(exact_minima[src]))[:KMV_K]

    got_sk = {r.source: list(r.ks) for r in _kmv_sketches(spark, sf_dir).collect()}
    assert got_sk == dict(exact_minima)

    def est_x1000(ks):
        if len(ks) < KMV_K:
            return len(ks) * 1000
        u_k = ks[KMV_K - 1] + 2**63 + 1
        return 1000 * (KMV_K - 1) * 2**64 // u_k

    got = {r.source: r for r in kmv_distinct_audit(spark, sf_dir).collect()}
    assert set(got) == set(exact_counts)
    for src, r in got.items():
        assert r.n_distinct_exact == exact_counts[src]
        e = est_x1000(got_sk[src])
        expected_flag = int(
            abs(e - 1000 * exact_counts[src]) <= 250 * exact_counts[src] + 3000
        )
        assert r.kmv_within_bound == expected_flag == 1
    # both sketch regimes are reachable: small corpora stay exact sets,
    # sf0.01+ exceed k and exercise the real estimator
    if max(exact_counts.values()) >= KMV_K:
        assert any(len(v) == KMV_K for v in got_sk.values())


def test_theta_pair_audit_matches_python_set_algebra(spark, sf_dir):
    """Recompute union/intersection estimates from the engine's own
    sketch arrays with Python set algebra, and the exact sizes from
    literal bigram sets; every flag must match the re-derivation and
    be green."""
    from watermill_kinesis_spark.operators.frequency import (
        KMV_K,
        _kmv_bigrams,
        _kmv_sketches,
        theta_sketch_pair_audit,
    )

    bis: dict = defaultdict(set)
    for r in _kmv_bigrams(spark, sf_dir).collect():
        bis[r.source].add((r.x, r.y))
    sk = {r.source: list(r.ks) for r in _kmv_sketches(spark, sf_dir).collect()}

    def est_x1000(ks):
        if len(ks) < KMV_K:
            return len(ks) * 1000
        u_k = ks[KMV_K - 1] + 2**63 + 1
        return 1000 * (KMV_K - 1) * 2**64 // u_k

    got = {
        (r.src_a, r.src_b): r
        for r in theta_sketch_pair_audit(spark, sf_dir).collect()
    }
    srcs = sorted(bis)
    expected_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1 :]
    }
    assert set(got) == expected_pairs
    for (a, b), r in got.items():
        exact_inter = len(bis[a] & bis[b])
        exact_union = len(bis[a] | bis[b])
        assert (r.exact_union, r.exact_inter) == (exact_union, exact_inter)
        merged = sorted(set(sk[a]) | set(sk[b]))[:KMV_K]
        u_est = est_x1000(merged)
        rho = sum(1 for v in merged if v in set(sk[a]) and v in set(sk[b]))
        i_est = rho * u_est // len(merged)
        assert r.union_within_bound == int(
            abs(u_est - 1000 * exact_union) <= 250 * exact_union + 3000
        )
        assert r.inter_within_bound == int(
            abs(i_est - 1000 * exact_inter) <= 150 * exact_union + 3000
        )
        assert r.union_within_bound == 1 and r.inter_within_bound == 1


def test_hilbert_layout_matches_reference_curve(spark, sf_dir):
    """Pin the unrolled SQL xy→d against the classic reference
    implementation (Wikipedia xy2d), verify the defining Hilbert
    property — consecutive d values are ALWAYS grid neighbors (the
    locality guarantee Morton order lacks) — and recompute the bucket
    stats literally."""
    from watermill_kinesis_spark.operators.analytics4 import (
        HILBERT_BITS,
        hilbert_curve_layout,
    )

    n = 1 << HILBERT_BITS

    def xy2d(x, y):
        d = 0
        s = n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s //= 2
        return d

    # the curve is a bijection and consecutive cells are neighbors
    cells = {}
    for x in range(n):
        for y in range(n):
            cells[xy2d(x, y)] = (x, y)
    assert sorted(cells) == list(range(n * n))
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = cells[d], cells[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1

    rows = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    )
    expected: dict = {}
    for r in rows:
        d = xy2d(r.l_partkey % n, r.l_suppkey % n)
        st = expected.setdefault(
            d, [0, r.l_partkey, r.l_partkey, r.l_suppkey, r.l_suppkey]
        )
        st[0] += 1
        st[1] = min(st[1], r.l_partkey)
        st[2] = max(st[2], r.l_partkey)
        st[3] = min(st[3], r.l_suppkey)
        st[4] = max(st[4], r.l_suppkey)
    got = {
        r.hbucket: [r.n_rows, r.min_part, r.max_part, r.min_supp, r.max_supp]
        for r in hilbert_curve_layout(spark, sf_dir).collect()
    }
    assert got == expected


def test_acf_matches_bruteforce(spark, sf_dir):
    """Rebuild the zero-filled day spine and the textbook ACF literally
    in Python (full-series mean/variance) and compare every lag."""
    from datetime import timedelta

    from watermill_kinesis_spark.operators.analytics4 import (
        ACF_MAX_LAG,
        acf_daily_lags,
    )

    counts: dict = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts").collect():
        counts[r.ts.date()] += 1
    lo, hi = min(counts), max(counts)
    series = []
    day = lo
    while day <= hi:
        series.append(counts.get(day, 0))
        day += timedelta(days=1)
    n = len(series)
    s = sum(series)
    q = sum(x * x for x in series)
    mean = s / n
    den_f = sum((x - mean) ** 2 for x in series)

    got = {r.lag: r for r in acf_daily_lags(spark, sf_dir).collect()}
    assert set(got) == set(range(1, ACF_MAX_LAG + 1))
    for lag, r in got.items():
        head, tail = series[: n - lag], series[lag:]
        c_l = sum(a * b for a, b in zip(head, tail))
        assert (r.n_pairs, r.cross_sum) == (n - lag, c_l)
        assert (r.head_sum, r.tail_sum) == (sum(head), sum(tail))
        num = n * n * c_l - n * s * (sum(head) + sum(tail)) + (n - lag) * s * s
        den = n * n * q - n * s * s
        expected = num / den if den > 0 else 0.0
        assert math.isclose(r.acf, expected, rel_tol=1e-12, abs_tol=1e-15)
        # ACF magnitude bound (Cauchy-Schwarz over the truncated sums
        # is not exactly 1, but the classic estimator stays within)
        assert -1.001 <= r.acf <= 1.001
        if den_f > 0:
            # cross-check against the float textbook form
            fl = sum(
                (a - mean) * (b - mean) for a, b in zip(head, tail)
            ) / den_f
            assert math.isclose(r.acf, fl, rel_tol=1e-9, abs_tol=1e-9)


def test_lincoln_petersen_matches_bruteforce(spark, sf_dir):
    """Recompute the capture sets and Chapman estimator literally."""
    from watermill_kinesis_spark.operators.frequency import (
        lincoln_petersen_distinct,
    )

    rows = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .collect()
    )
    c1 = {r.text for r in rows if r.doc_id % 2 == 0}
    c2 = {r.text for r in rows if r.doc_id % 3 == 0}
    all_texts = {r.text for r in rows}
    m = len(c1 & c2)
    est = (len(c1) + 1) * (len(c2) + 1) * 1000 // (m + 1) - 1000
    got = lincoln_petersen_distinct(spark, sf_dir).collect()[0]
    assert (
        got.n1,
        got.n2,
        got.n_recaptured,
        got.chapman_est_x1000,
        got.n_distinct_exact,
    ) == (len(c1), len(c2), m, est, len(all_texts))
    # the estimator is in the right ballpark on mod-marked captures
    # (deterministic for this corpus; a wildly-off estimate means the
    # capture marks stopped being independent)
    assert got.chapman_est_x1000 >= 1000 * m


def test_negative_sampling_matches_bruteforce(spark, sf_dir):
    """Recompute the md5 draws and the quartic acceptance comparison
    literally per occurrence, and sanity-check the realized rate
    tracks (c/cmax)^0.75."""
    import hashlib

    from watermill_kinesis_spark.operators.pipeline5 import (
        NEG_DRAW_BITS,
        negative_sampling_power75,
    )

    occ = []
    for r in (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .collect()
    ):
        for i, tok in enumerate(r.text.split(" "), start=1):
            occ.append((r.doc_id, i, tok))
    counts = Counter(t for _, _, t in occ)
    cmax = max(counts.values())
    lim = 1 << (4 * NEG_DRAW_BITS)
    stats: dict = defaultdict(lambda: [0, 0])
    for doc_id, i, tok in occ:
        u = int(hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest()[:3], 16)
        c = counts[tok]
        stats[tok][0] += 1
        if u**4 * cmax**3 < lim * c**3:
            stats[tok][1] += 1
    got = {r.tok: r for r in negative_sampling_power75(spark, sf_dir).collect()}
    assert set(got) == set(stats)
    for tok, r in got.items():
        n_occ, n_neg = stats[tok]
        assert (r.c, r.n_occ, r.n_negatives) == (counts[tok], n_occ, n_neg)
        assert r.accept_permille == 1000 * n_neg // n_occ
    # realized rates track the 3/4-power law (loose: draw is 12-bit
    # and per-token occurrence counts are finite)
    for tok, r in got.items():
        p = (counts[tok] / cmax) ** 0.75
        if r.n_occ >= 200:
            assert abs(r.n_negatives / r.n_occ - p) < 0.15
    # cmax token accepts (p = 1): every draw is below the threshold
    top = max(got.values(), key=lambda r: r.c)
    assert top.n_negatives == top.n_occ


def test_feature_hashing_matches_bruteforce(spark, sf_dir):
    """Recompute the bucket census literally from md5 buckets."""
    import hashlib

    from watermill_kinesis_spark.operators.pipeline5 import (
        FEATHASH_BUCKETS,
        feature_hashing_counts,
    )

    counts = Counter()
    for r in (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("text")
        .collect()
    ):
        counts.update(r.text.split(" "))
    buckets: dict = defaultdict(lambda: [0, 0, 0])
    for tok, n in counts.items():
        b = int(hashlib.md5(tok.encode()).hexdigest()[:6], 16) % FEATHASH_BUCKETS
        st = buckets[b]
        st[0] += 1
        st[1] += n
        st[2] = max(st[2], n)
    got = {r.bucket: r for r in feature_hashing_counts(spark, sf_dir).collect()}
    assert set(got) == set(buckets)
    for b, r in got.items():
        n_types, n_tokens, mx = buckets[b]
        assert (r.n_types, r.n_tokens) == (n_types, n_tokens)
        assert r.dominant_share_permille == 1000 * mx // n_tokens
    # the census exercises real collisions: some bucket holds >1 type
    assert any(v[0] > 1 for v in buckets.values())


def test_map_at_k_matches_fraction_bruteforce(spark, sf_dir):
    """Recompute AP@k with exact Fractions from the shared ranked
    relation; the lcm scaling must be lossless."""
    from fractions import Fraction

    from watermill_kinesis_spark.operators.retrieval import (
        RR_SCALE,
        _ranked_with_labels,
        map_at_k_exact,
    )
    from watermill_kinesis_spark.operators.similarity import TOP_K

    per_q: dict = defaultdict(list)
    for r in _ranked_with_labels(spark, sf_dir).collect():
        if r.rank <= TOP_K:
            per_q[r.query_id].append((r.rank, int(r.n_label == r.q_label)))
    got = {r.query_id: r for r in map_at_k_exact(spark, sf_dir).collect()}
    assert set(got) == set(per_q)
    for qid, rows in per_q.items():
        rows.sort()
        ap = Fraction(0)
        prefix = 0
        for rank, rel in rows:
            prefix += rel
            if rel:
                ap += Fraction(prefix, rank)
        scaled = ap * RR_SCALE
        assert scaled.denominator == 1
        g = got[qid]
        n_rel = sum(rel for _, rel in rows)
        assert g.n_relevant_topk == n_rel
        assert getattr(g, f"ap_sum_scaled_{RR_SCALE}") == scaled.numerator
        expected_pm = (
            0 if n_rel == 0 else 1000 * scaled.numerator // (n_rel * RR_SCALE)
        )
        assert g.ap_permille == expected_pm
        assert 0 <= g.ap_permille <= 1000


def test_mcc_sweep_matches_bruteforce(spark, sf_dir):
    """Recompute every threshold's confusion matrix, MCC, and Youden J
    from a literal scan; the one-pass suffix-sum sweep must agree."""
    from watermill_kinesis_spark.operators.evaluation import (
        MCC_THRESHOLDS,
        mcc_threshold_sweep,
    )

    rows = [
        (r.o_totalprice, int(r.o_orderstatus == "F"))
        for r in load_table(spark, sf_dir, "orders")
        .select("o_totalprice", "o_orderstatus")
        .collect()
    ]
    pos = sum(l for _, l in rows)
    neg = len(rows) - pos
    got = {r.threshold: r for r in mcc_threshold_sweep(spark, sf_dir).collect()}
    assert set(got) == set(MCC_THRESHOLDS)
    for t, r in got.items():
        tp = sum(1 for p, l in rows if p >= t and l)
        fp = sum(1 for p, l in rows if p >= t and not l)
        fn, tn = pos - tp, neg - fp
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
        mcc = (tp * tn - fp * fn) / math.sqrt(den) if den > 0 else 0.0
        assert math.isclose(r.mcc, mcc, rel_tol=1e-12, abs_tol=1e-15)
        j = (1000 * tp // pos if pos else 0) + (
            1000 * tn // neg if neg else 0
        ) - 1000
        assert r.youden_j_permille == j
        assert -1.0 <= r.mcc <= 1.0
    # the sweep really sweeps: confusion matrices differ across cutoffs
    assert len({(r.tp, r.fp) for r in got.values()}) > 1


def test_bfs_hops_matches_python_bfs(spark, sf_dir):
    """Literal Python level-synchronous BFS over the same bipartite
    edges — pins min-hop semantics, the census, and the checksums."""
    from watermill_kinesis_spark.operators.graph import (
        BFS_MAX_HOPS,
        graph_bfs_hops,
    )

    edges = set()
    min_supp = None
    for r in (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .collect()
    ):
        edges.add((r.l_partkey, r.l_suppkey))
        min_supp = r.l_suppkey if min_supp is None else min(min_supp, r.l_suppkey)
    by_s: dict = defaultdict(set)
    by_p: dict = defaultdict(set)
    for p, s in edges:
        by_s[s].add(p)
        by_p[p].add(s)
    hop_of = {("s", min_supp): 0}
    frontier = [("s", min_supp)]
    for hop in range(1, BFS_MAX_HOPS + 1):
        nxt = set()
        for kind, k in frontier:
            if kind == "s":
                nxt.update(("p", p) for p in by_s[k])
            else:
                nxt.update(("s", s) for s in by_p[k])
        frontier = [n for n in nxt if n not in hop_of]
        for n in frontier:
            hop_of[n] = hop
        if not frontier:
            break
    expected: dict = {}
    for (kind, k), hop in hop_of.items():
        st = expected.setdefault(hop, [0, 0, 0, 0])
        if kind == "p":
            st[0] += 1
            st[2] += k
        else:
            st[1] += 1
            st[3] += k
    got = {
        r.hop: [r.n_parts, r.n_suppliers, r.part_key_sum, r.supp_key_sum]
        for r in graph_bfs_hops(spark, sf_dir).collect()
    }
    assert got == expected
    # hop 0 is exactly the seed supplier
    assert got[0] == [0, 1, 0, min_supp]


def test_dod_census_matches_bruteforce(spark, sf_dir):
    """Recompute the Gorilla bucket census literally: per-user ordered
    second-floored epochs, second differences, spec buckets."""
    from watermill_kinesis_spark.operators.analytics4 import (
        delta_of_delta_encoding_census,
    )

    per_user: dict = defaultdict(list)
    for r in (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .collect()
    ):
        per_user[r.user_id].append((r.ts, r.event_id))

    def bucket(d):
        if d == 0:
            return "a_zero", 1
        if -63 <= d <= 64:
            return "b_7bit", 9
        if -255 <= d <= 256:
            return "c_9bit", 12
        if -2047 <= d <= 2048:
            return "d_12bit", 16
        return "e_32bit", 36

    census: dict = defaultdict(lambda: [0, 0])
    for rows in per_user.values():
        rows.sort()
        # floor to whole seconds AFTER ordering by full-resolution ts;
        # naive-datetime epoch via a fixed reference (TZ-free, unlike
        # datetime.timestamp() which assumes the machine zone)
        from datetime import datetime

        epoch0 = datetime(1970, 1, 1)
        ts = [
            math.floor((t - epoch0).total_seconds()) for t, _ in rows
        ]
        for i in range(2, len(ts)):
            dod = (ts[i] - ts[i - 1]) - (ts[i - 1] - ts[i - 2])
            b, bits = bucket(dod)
            census[b][0] += 1
            census[b][1] += bits
    got = {
        r.bucket: (r.n_deltas, r.bits_total, r.vs_raw64_permille)
        for r in delta_of_delta_encoding_census(spark, sf_dir).collect()
    }
    expected = {
        b: (n, bits, 1000 * bits // (64 * n)) for b, (n, bits) in census.items()
    }
    assert got == expected
    # the census is non-degenerate: the compressible buckets exist
    assert sum(n for n, _, _ in got.values()) > 0


def test_kaplan_meier_matches_bruteforce(spark, sf_dir):
    """Literal per-user lifetime/censoring recompute; at-risk suffix
    sums and hazards must match, and the KM identities must hold."""
    from watermill_kinesis_spark.operators.analytics4 import (
        KM_CENSOR_DAYS,
        kaplan_meier_hazard,
    )

    per_user: dict = {}
    for r in load_table(spark, sf_dir, "events").select("user_id", "ts").collect():
        d = r.ts.date()
        lo, hi = per_user.get(r.user_id, (d, d))
        per_user[r.user_id] = (min(lo, d), max(hi, d))
    corpus_end = max(hi for _, hi in per_user.values())
    per_t: dict = defaultdict(lambda: [0, 0])
    for lo, hi in per_user.values():
        t = (hi - lo).days
        censored = (corpus_end - hi).days < KM_CENSOR_DAYS
        per_t[t][1 if censored else 0] += 1
    got = {r.lifetime_days: r for r in kaplan_meier_hazard(spark, sf_dir).collect()}
    assert set(got) == set(per_t)
    total = len(per_user)
    for t in sorted(per_t):
        d, c = per_t[t]
        n_at_risk = sum(
            dd + cc for tt, (dd, cc) in per_t.items() if tt >= t
        )
        r = got[t]
        assert (r.n_at_risk, r.n_churned, r.n_censored) == (n_at_risk, d, c)
        assert r.hazard_permille == 1000 * d // n_at_risk
    # identities: risk set at t=0 is every user; exits partition users
    assert got[min(per_t)].n_at_risk == total or min(per_t) > 0
    assert sum(r.n_churned + r.n_censored for r in got.values()) == total
    # censoring is real on this corpus (recent users exist)
    assert sum(r.n_censored for r in got.values()) > 0


def test_sax_matches_bruteforce(spark, sf_dir):
    """Literal SAX recompute: zero-filled spine, PAA windows, sample
    std z-normalization, quartile breakpoints."""
    from datetime import timedelta

    from watermill_kinesis_spark.operators.analytics4 import (
        SAX_WINDOW_DAYS,
        sax_symbolic_daily,
    )

    counts: dict = defaultdict(int)
    for r in load_table(spark, sf_dir, "events").select("ts").collect():
        counts[r.ts.date()] += 1
    lo, hi = min(counts), max(counts)
    series = []
    day = lo
    while day <= hi:
        series.append(counts.get(day, 0))
        day += timedelta(days=1)
    n = len(series)
    s = sum(series)
    q = sum(x * x for x in series)
    mean = s / n
    var = (q - s * s / n) / (n - 1) if n * q - s * s > 0 else 0.0
    sd = math.sqrt(var) if var > 0 else 0.0
    bp = 0.6744897501960817
    expected = {}
    for w in range((n + SAX_WINDOW_DAYS - 1) // SAX_WINDOW_DAYS):
        chunk = series[w * SAX_WINDOW_DAYS : (w + 1) * SAX_WINDOW_DAYS]
        paa = sum(chunk) / len(chunk)
        z = (paa - mean) / sd if sd > 0 else 0.0
        sym = "a" if z < -bp else "b" if z < 0 else "c" if z < bp else "d"
        expected[w] = (len(chunk), sum(chunk), sym)
    got = {
        r.window_id: (r.n_days, r.sum_events, r.symbol)
        for r in sax_symbolic_daily(spark, sf_dir).collect()
    }
    assert got == expected
    # the alphabet is actually used (a constant series would be all-c)
    assert len({sym for _, _, sym in got.values()}) >= 2
