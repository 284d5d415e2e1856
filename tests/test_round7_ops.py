"""Invariant + brute-force pins for the round-7 operator wave:
Gopher quality rules, Kendall tau components, retrieval metrics
(P@k / R@k / MRR), int8 quantization audit, bloom fpp audit, and the
GROUP BY ALL dialect face. The driver's oracle compare is the
value-exact gate; these tests pin the SEMANTICS against independent
pure-Python recomputation so a same-wrong-both-sides oracle bug
cannot hide."""

from itertools import combinations

import numpy as np
from hypothesis import given, settings, strategies as st

from watermill_kinesis_spark.operators.evaluation import kendall_tau_exact
from watermill_kinesis_spark.operators.dedup import bloom_fpp_audit
from watermill_kinesis_spark.operators.retrieval import (
    RR_SCALE,
    mrr_at_k_exact,
    precision_recall_at_k,
)
from watermill_kinesis_spark.operators.similarity import N_QUERIES, TOP_K
from watermill_kinesis_spark.operators.similarity import (
    INT8_QMAX,
    embedding_int8_quant_audit,
)
from watermill_kinesis_spark.operators.sqltext import run_sql
from watermill_kinesis_spark.operators.text import (
    GOPHER_MIN_STOPWORDS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    gopher_quality_rules,
)
from watermill_kinesis_spark.sources.tables import load_table


def test_gopher_rules_match_brute_force(spark, sf_dir):
    rows = {r.doc_id: r for r in gopher_quality_rules(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for d in docs.collect():
        words = d.text.split(" ")
        r = rows[d.doc_id]
        assert r.n_words == len(words)
        chars = sum(len(w) for w in words)
        assert r.n_chars_nospace == chars
        assert r.r_word_count == int(GOPHER_MIN_WORDS <= len(words) <= 100_000)
        assert r.r_word_len == int(
            3 * len(words) <= chars <= 10 * len(words)
        )
        assert r.r_alpha_words == int(
            100 * sum(1 for w in words if any(c.isalpha() for c in w))
            >= 80 * len(words)
        )
        n_stop = len(set(words) & set(GOPHER_STOPWORDS))
        assert r.r_stopwords == int(n_stop >= GOPHER_MIN_STOPWORDS)
        assert r.gopher_pass == int(
            r.r_word_count
            and r.r_word_len
            and r.r_symbol_ratio
            and r.r_alpha_words
            and r.r_stopwords
        )
    # non-degenerate: the 50-word floor must split this corpus (doc
    # lengths span 10..99 words at every SF; the stopword rule may
    # legitimately zero a whole SF whose vocab lacks the stop list)
    assert {r.r_word_count for r in rows.values()} == {0, 1}


def test_kendall_components_match_brute_force(spark, sf_dir):
    out = {r.nation: r for r in kendall_tau_exact(spark, sf_dir).collect()}
    # rebuild the monthly series independently via SQL text
    m = run_sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name AS nation, date_trunc('month', o.o_orderdate) AS mo,
               COUNT(*) AS x, COUNT(DISTINCT o.o_custkey) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """,
    ).collect()
    series: dict[str, list[tuple]] = {}
    for r in m:
        series.setdefault(r.nation, []).append((r.mo, r.x, r.y))
    for nation, pts in series.items():
        pts.sort()
        conc = disc = tx = ty = tb = 0
        for (_, x1, y1), (_, x2, y2) in combinations(pts, 2):
            p = (x2 - x1) * (y2 - y1)
            if x1 == x2 and y1 == y2:
                tb += 1
            elif x1 == x2:
                tx += 1
            elif y1 == y2:
                ty += 1
            elif p > 0:
                conc += 1
            else:
                disc += 1
        r = out[nation]
        n_pairs = len(pts) * (len(pts) - 1) // 2
        assert (
            r.n_pairs,
            r.concordant,
            r.discordant,
            r.ties_x,
            r.ties_y,
            r.ties_both,
        ) == (n_pairs, conc, disc, tx, ty, tb)
        assert r.tau_b_numer == conc - disc
        # decomposition is a partition of all pairs
        assert conc + disc + tx + ty + tb == n_pairs


def test_retrieval_metrics_consistent(spark, sf_dir):
    pr = {r.query_id: r for r in precision_recall_at_k(spark, sf_dir).collect()}
    mrr = {r.query_id: r for r in mrr_at_k_exact(spark, sf_dir).collect()}
    assert set(pr) == set(mrr) and len(pr) == N_QUERIES
    for qid, r in pr.items():
        assert 0 <= r.n_relevant_topk <= TOP_K == r.k
        assert r.precision_permille == 1000 * r.n_relevant_topk // TOP_K
        assert r.recall_permille == 1000 * r.n_relevant_topk // max(
            r.n_relevant_corpus, 1
        )
        m = mrr[qid]
        fr = m.first_relevant_rank
        assert 0 <= fr <= TOP_K
        # a relevant hit exists in the top-k iff a first rank exists
        assert (fr > 0) == (r.n_relevant_topk > 0)
        rr = getattr(m, f"rr_scaled_{RR_SCALE}")
        assert rr == (RR_SCALE // fr if fr else 0)


def test_int8_quant_matches_numpy(spark, sf_dir):
    out = {r.label: r for r in embedding_int8_quant_audit(spark, sf_dir).collect()}
    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    agg: dict[int, list[int]] = {}
    for row in e.collect():
        x = np.asarray(row.embedding, dtype=np.float64)
        scale = np.abs(x).max()
        if scale == 0:
            q = np.zeros_like(x, dtype=np.int64)
            zero = 1
        else:
            zero = 0
            s = x * float(INT8_QMAX) / scale
            # half-away-from-zero, NOT numpy's half-to-even round()
            q = np.where(
                x >= 0, np.floor(s + 0.5), -np.floor(-s + 0.5)
            ).astype(np.int64)
        a = agg.setdefault(row.label, [0, 0, 0, 0, 0])
        a[0] += 1
        a[1] += int(q.sum())
        a[2] += int((q * q).sum())
        a[3] += int((np.abs(q) == INT8_QMAX).sum())
        a[4] += zero
    for label, (n, sm, sq, sat, n_zero) in agg.items():
        r = out[label]
        assert (r.n_vectors, r.sum_codes, r.sum_sq_codes, r.n_saturated_codes) == (
            n,
            sm,
            sq,
            sat,
        )
        # codes are bounded by construction: the max-|x| element
        # saturates per vector — EXCEPT all-zero vectors, which take
        # the scale==0 branch and emit no saturated code (r7 ADVICE)
        assert sat >= n - n_zero


def test_bloom_fpp_audit_verdicts(spark, sf_dir):
    r = bloom_fpp_audit(spark, sf_dir).collect()[0]
    assert r.n_members == r.n_probes > 0
    assert r.all_members_contained == 1  # no false negatives, ever
    assert r.fpp_within_budget == 1


def test_group_by_all_equals_explicit(spark, sf_dir):
    implicit = run_sql(
        spark,
        sf_dir,
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
        "GROUP BY ALL ORDER BY ALL",
    ).collect()
    explicit = run_sql(
        spark,
        sf_dir,
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus, n",
    ).collect()
    assert implicit == explicit


def test_maxsim_matches_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.similarity import (
        MV_SUBDIM,
        MV_TOKENS,
        multivector_maxsim_topk,
    )

    out = multivector_maxsim_topk(spark, sf_dir).collect()
    e = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }

    def subvecs(v):
        s = v.reshape(MV_TOKENS, MV_SUBDIM)
        n = np.linalg.norm(s, axis=1)
        return s / np.maximum(n, 1e-300)[:, None], n == 0

    def maxsim(q, d):
        Qs, qz = subvecs(q)
        Ds, dz = subvecs(d)
        S = Qs @ Ds.T
        S[qz, :] = -1.0
        S[:, dz] = -1.0
        return S.max(axis=1).sum()

    for qid in range(N_QUERIES):
        scores = sorted(
            ((maxsim(e[qid], e[d]), -d) for d in e if d != qid), reverse=True
        )
        expected = [-d for _, d in scores[:TOP_K]]
        got = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank) if r.query_id == qid]
        assert got == expected, f"query {qid}: {got} != {expected}"


def test_kcenter_matches_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.clustering import (
        KCENTER_K,
        kcenter_diversity_audit,
        kcenter_greedy_fit,
    )

    ids, C, radius = kcenter_greedy_fit(spark, sf_dir)
    pts = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    # reference greedy: same start, same farthest/tie-break rule
    order = sorted(pts)
    sel = [order[0]]
    for _ in range(1, KCENTER_K):
        best_id, best_d = None, -1.0
        for vid in order:
            d = min(np.linalg.norm(pts[vid] - pts[c]) for c in sel)
            if d > best_d + 1e-12:
                best_id, best_d = vid, d
        sel.append(best_id)
    assert ids == sel
    # coverage radius: every point within radius of some center
    max_min = max(
        min(np.linalg.norm(p - pts[c]) for c in sel) for p in pts.values()
    )
    assert abs(max_min - radius) < 1e-9
    r = kcenter_diversity_audit(spark, sf_dir).collect()[0]
    assert (
        r.k_selected,
        r.all_centers_distinct,
        r.separation_ge_radius,
    ) == (KCENTER_K, 1, 1)
    assert r.n_points == len(pts)


def test_kmeans_assignment_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.clustering import (
        KMEANS_K,
        kmeans_assignment_audit,
    )

    r = kmeans_assignment_audit(spark, sf_dir).collect()[0]
    assert r.k == KMEANS_K
    assert r.n_points > 0
    assert r.assignment_optimal == 1
    assert r.partition_complete == 1


def test_pagerank_mass_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.graph import pagerank_mass_audit

    r = pagerank_mass_audit(spark, sf_dir).collect()[0]
    assert r.n_nodes > 0
    assert r.mass_conserved == 1
    assert r.all_above_floor == 1


def test_pca_projection_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.clustering import (
        PCA_COMPONENTS,
        pca_projection_audit,
    )

    r = pca_projection_audit(spark, sf_dir).collect()[0]
    assert r.k == PCA_COMPONENTS
    assert r.n_rows > 0
    assert (
        r.orthonormal,
        r.variance_descending,
        r.means_centered,
        r.variance_matches_eigen,
    ) == (1, 1, 1, 1)


def test_semdedup_invariant_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.clustering import (
        semdedup_invariant_audit,
    )

    r = semdedup_invariant_audit(spark, sf_dir).collect()[0]
    assert r.n_vectors > 0
    assert (
        r.partition_exact,
        r.kept_pairwise_below_tau,
        r.dropped_have_kept_neighbor,
        r.operator_counts_match,
    ) == (1, 1, 1, 1)


def test_bpe_roundtrip_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.tokenizer import bpe_roundtrip_audit

    r = bpe_roundtrip_audit(spark, sf_dir).collect()[0]
    assert r.n_words > 0
    assert r.all_roundtrip == 1
    assert r.all_pieces_known == 1


def test_codec_roundtrip_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.udf import codec_roundtrip_audit

    r = codec_roundtrip_audit(spark, sf_dir).collect()[0]
    assert r.n_msgs > 0
    assert r.total_wire_chars >= r.n_msgs * 8
    assert r.all_roundtrip == 1
    assert r.all_wire_len_exact == 1


def test_bpe_segmenter_rejects_unknown_merge_product():
    # closed-vocabulary verdict is falsifiable: a piece not reachable
    # from the merge table must fail the membership rule the audit uses
    from watermill_kinesis_spark.operators.tokenizer import bpe_segment_word

    ranks = {("a", "b"): 0}
    pieces = bpe_segment_word("abab", ranks)
    assert pieces == ["ab", "ab"]
    vocab = {"ab"}
    assert all(len(p) == 1 or p in vocab for p in pieces)
    assert not all(len(p) == 1 or p in vocab for p in ["ab", "cd"])


def test_simhash_recall_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.dedup import simhash_recall_audit

    r = simhash_recall_audit(spark, sf_dir).collect()[0]
    assert r.n_exact_dup_pairs > 0  # testdata has exact-dup token sets
    assert r.fp_consistent == 1
    assert r.zero_hamming_complete == 1


def test_simhash_fp_identical_for_same_token_set(spark):
    # the vote stage must be a pure function of the DISTINCT token set:
    # reordered and repeated tokens may not perturb the fingerprint
    from watermill_kinesis_spark.operators import dedup as D

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),
            (3, "alpha beta gamma delta alpha beta"),
            (4, "alpha beta gamma epsilon"),
        ],
        "doc_id long, text string",
    )
    orig = D.fanned_documents
    D.fanned_documents = lambda spark, sf_dir: df
    try:
        fps = {r.doc_id: r.fp for r in D._simhash_fps(spark, "unused").collect()}
    finally:
        D.fanned_documents = orig
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]


def test_isotonic_pav_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import isotonic_pav_audit

    r = isotonic_pav_audit(spark, sf_dir).collect()[0]
    assert r.n_rows > 0
    assert 0 < r.n_pos < r.n_rows  # both classes present
    assert (
        r.monotone_ok,
        r.mass_conserved,
        r.gcm_minorant_ok,
        r.boundaries_exact,
    ) == (1, 1, 1, 1)


@given(
    st.lists(
        st.tuples(st.integers(1, 20), st.integers(0, 20)).map(
            lambda t: (t[0], min(t[0], t[1]))
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=200, deadline=None)
def test_pav_pool_is_the_isotonic_least_squares_fit(cells):
    """pav_pool must equal the O(n²) prefix-GCM reference: the isotonic
    LSQ fit's cumulative curve is the greatest convex minorant of the
    cumulative sum diagram, built here by repeatedly taking the
    minimum-slope prefix (exact Fraction arithmetic)."""
    from fractions import Fraction

    from watermill_kinesis_spark.operators.evaluation import pav_pool

    blocks = pav_pool(cells)
    # reference: greedy minimum-average prefix decomposition
    ref = []
    rest = list(cells)
    while rest:
        best_i, best = 0, None
        cn = cp = 0
        for i, (n, p) in enumerate(rest):
            cn += n
            cp += p
            avg = Fraction(cp, cn)
            if best is None or avg <= best:
                best, best_i = avg, i
        ref.append(
            [
                sum(n for n, _ in rest[: best_i + 1]),
                sum(p for _, p in rest[: best_i + 1]),
            ]
        )
        rest = rest[best_i + 1 :]
    assert blocks == ref
    # and the defining invariants hold
    assert sum(b[0] for b in blocks) == sum(n for n, _ in cells)
    assert sum(b[1] for b in blocks) == sum(p for _, p in cells)
    for a, b in zip(blocks, blocks[1:]):
        assert a[1] * b[0] < b[1] * a[0]


def test_frame_sample_census_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.multimodal import (
        frame_sample_census_audit,
    )

    r = frame_sample_census_audit(spark, sf_dir).collect()[0]
    assert r.n_docs > 0
    assert r.n_frames_sampled >= r.n_docs  # every non-empty doc samples frame 0
    assert (
        r.offsets_exact,
        r.stride_exact,
        r.per_doc_census_match,
    ) == (1, 1, 1)


def test_frame_census_closed_form_matches_enumeration():
    # the audit's expectation arithmetic vs brute-force sampling for
    # every payload size through several frame/stride boundary cases
    from watermill_kinesis_spark.operators.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
    )

    for b in range(1, FRAME_BYTES * 9 + 3):
        nf = (b + FRAME_BYTES - 1) // FRAME_BYTES
        ns = (nf + FRAME_STRIDE - 1) // FRAME_STRIDE
        exp_bytes = FRAME_BYTES * ns - (
            FRAME_BYTES * nf - b if (nf - 1) % FRAME_STRIDE == 0 else 0
        )
        exp_max_idx = FRAME_STRIDE * (ns - 1)
        # brute force
        idxs = list(range(0, nf, FRAME_STRIDE))
        lens = [min(FRAME_BYTES, b - i * FRAME_BYTES) for i in idxs]
        assert len(idxs) == ns, b
        assert sum(lens) == exp_bytes, b
        assert idxs[-1] == exp_max_idx, b


def test_feature_extract_census_audit_verdicts(spark, sf_dir):
    from watermill_kinesis_spark.operators.multimodal import (
        feature_extract_census_audit,
    )

    r = feature_extract_census_audit(spark, sf_dir).collect()[0]
    assert r.n_assets > 0
    assert r.total_payload_bytes > r.n_assets  # non-trivial payloads
    assert (r.one_row_per_asset, r.sizes_exact, r.dims_positive) == (1, 1, 1)


def test_winsorized_mean_matches_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import winsorized_mean_exact

    out = {r.event_type: r for r in winsorized_mean_exact(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    groups: dict[str, list[float]] = {}
    for row in ev.collect():
        groups.setdefault(row.event_type, []).append(row.value)
    assert set(out) == set(groups)
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        p05 = vals[(5 * n + 99) // 100 - 1]
        p95 = vals[(95 * n + 99) // 100 - 1]
        cents = [
            int(np.floor(min(max(v, p05), p95) * 100 + 0.5))
            if min(max(v, p05), p95) >= 0
            else -int(np.floor(-min(max(v, p05), p95) * 100 + 0.5))
            for v in vals
        ]
        r = out[et]
        assert (r.n, r.p05, r.p95) == (n, p05, p95)
        s = sum(cents)
        assert r.winsorized_sum_cents == s
        # pin the TRUNCATE-toward-zero div semantics (Python // floors,
        # which differs on negative sums)
        expected_micro = s * 10000 // n if s >= 0 else -((-s * 10000) // n)
        assert r.winsorized_mean_micro == expected_micro
        # clamping never moves the mean outside the bounds
        assert p05 * 100 * n <= r.winsorized_sum_cents + n  # half-cent slack
        assert r.winsorized_sum_cents <= p95 * 100 * n + n


def test_quantile_disc_rank_convention():
    # the integer ceiling-division rank must reproduce DuckDB's exact-
    # decimal quantile_disc convention (float ceil(0.95*n) does NOT:
    # 0.95*20 = 19.000000000000004 in binary)
    import duckdb

    con = duckdb.connect()
    for n in (1, 2, 3, 7, 19, 20, 21, 99, 100, 101, 1234):
        vals = list(range(1, n + 1))
        got = con.execute(
            "SELECT quantile_disc(x, 0.05), quantile_disc(x, 0.95) "
            "FROM (SELECT unnest(?) AS x)",
            [vals],
        ).fetchone()
        exp = (
            vals[((5 * n + 99) // 100) - 1],
            vals[(95 * n + 99) // 100 - 1],
        )
        assert got == exp, (n, got, exp)


def test_iqr_fences_match_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import iqr_outlier_fences

    out = {r.event_type: r for r in iqr_outlier_fences(spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    groups: dict[str, list[float]] = {}
    for row in ev.collect():
        groups.setdefault(row.event_type, []).append(row.value)
    assert set(out) == set(groups)
    for et, vals in groups.items():
        vals.sort()
        n = len(vals)
        q1 = vals[(25 * n + 99) // 100 - 1]
        q3 = vals[(75 * n + 99) // 100 - 1]
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        r = out[et]
        assert (r.n, r.q1, r.q3) == (n, q1, q3)
        assert r.n_below_fence == sum(1 for v in vals if v < lo)
        assert r.n_above_fence == sum(1 for v in vals if v > hi)
        # fences are ordered and quartiles sit inside them
        assert lo <= q1 <= q3 <= hi


def test_theil_sen_matches_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import (
        theil_sen_slope_exact,
    )

    out = {r.nation: r for r in theil_sen_slope_exact(spark, sf_dir).collect()}
    m = run_sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name AS nation,
               year(o.o_orderdate) * 12 + month(o.o_orderdate) AS mi,
               COUNT(*) AS y
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2
        """,
    ).collect()
    series: dict[str, list[tuple]] = {}
    for r in m:
        series.setdefault(r.nation, []).append((r.mi, r.y))
    for nation, pts in series.items():
        pts.sort()
        slopes = sorted(
            (y2 - y1) / (m2 - m1)
            for (m1, y1), (m2, y2) in combinations(pts, 2)
        )
        r = out[nation]
        assert r.n_pairs == len(slopes)
        # quantile_disc(0.5) = 1-based rank ceil(n/2)
        assert r.theil_sen_slope == slopes[(50 * len(slopes) + 99) // 100 - 1]
        # robustness sanity: the median slope sits within the slope range
        assert slopes[0] <= r.theil_sen_slope <= slopes[-1]


def test_mann_kendall_matches_brute_force(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import (
        mann_kendall_trend,
        monthly_order_series,
    )

    out = {r.nation: r for r in mann_kendall_trend(spark, sf_dir).collect()}
    series: dict[str, list[tuple]] = {}
    for r in monthly_order_series(spark, sf_dir).collect():
        series.setdefault(r.nation, []).append((r.mi, r.y))
    assert set(out) == set(series)
    for nation, pts in series.items():
        pts.sort()
        ys = [y for _, y in pts]
        n = len(ys)
        s = sum(
            (y2 > y1) - (y2 < y1)
            for (_, y1), (_, y2) in combinations(pts, 2)
        )
        ties: dict[int, int] = {}
        for y in ys:
            ties[y] = ties.get(y, 0) + 1
        var18 = n * (n - 1) * (2 * n + 5) - sum(
            t * (t - 1) * (2 * t + 5) for t in ties.values()
        )
        r = out[nation]
        assert (r.n_months, r.s_statistic, r.var_s_x18) == (n, s, var18)
        # |S| can never exceed the pair count, and Var*18 >= 0
        assert abs(s) <= n * (n - 1) // 2 and var18 >= 0
