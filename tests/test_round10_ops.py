"""Operator invariants for ``text``, ``dedup``, ``evaluation``,
``windows`` and ``relational``: brute-force pins for the
lexical-richness profile, token burstiness, the TVD drift matrix, the
Mann-Whitney length test, dedup token accounting, cadence screening,
and the Brier decomposition — semantics the row-hash oracle can't
express (the oracle pins values; these pin meaning against independent
Python recomputes).
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.dedup import (
    ingest_dedup_delta,
    dedup_token_savings,
)
from watermill_kinesis_spark.operators.evaluation import (
    BRIER_BINS,
    cramer_von_mises_lengths,
    dow_uniformity_audit,
    mood_median_test_langs,
    brier_decomposition_exact,
    mann_whitney_u_lengths,
)
from watermill_kinesis_spark.operators.relational import referential_integrity_audit
from watermill_kinesis_spark.operators.text import (
    BURST_TOP_N,
    token_burstiness_topk,
    unigram_tvd_sources,
    yule_sichel_richness,
)
from watermill_kinesis_spark.operators.windows import (
    CADENCE_MIN_GAPS,
    user_cadence_regularity,
)
from watermill_kinesis_spark.sources.tables import load_table


def _doc_rows(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text", "source", "lang", "n_chars")
        .collect()
    )


def test_yule_sichel_matches_bruteforce(spark, sf_dir):
    """Independent Python recount of the per-source frequency spectrum
    and the three richness constants in exact integer arithmetic."""
    freq: dict = defaultdict(Counter)
    for r in _doc_rows(spark, sf_dir):
        if r.source is not None:
            freq[r.source].update(r.text.split(" "))
    expected = {}
    for src, cnt in freq.items():
        n = sum(cnt.values())
        v = len(cnt)
        s2 = sum(c * c for c in cnt.values())
        f1 = sum(1 for c in cnt.values() if c == 1)
        f2 = sum(1 for c in cnt.values() if c == 2)
        expected[src] = (
            n,
            v,
            10_000_000 * (s2 - n) // (n * n),
            1000 * f2 // v,
            1000 * f1 // v,
        )
    got = {
        r.source: (
            r.n_tokens,
            r.v_types,
            r.yule_k_x1000,
            r.sichel_s_permille,
            r.hapax_permille,
        )
        for r in yule_sichel_richness(spark, sf_dir).collect()
    }
    assert got == expected
    # non-degeneracy: some source actually repeats tokens (K > 0)
    assert any(v[2] > 0 for v in expected.values())


def test_burstiness_matches_bruteforce(spark, sf_dir):
    """Python recount of P(c>=2 | c>=1) per token with the same total
    order; the top-N prefix must match exactly."""
    per_doc: dict = defaultdict(Counter)
    for r in _doc_rows(spark, sf_dir):
        per_doc[r.doc_id].update(r.text.split(" "))
    df: Counter = Counter()
    df2: Counter = Counter()
    tf: Counter = Counter()
    for cnt in per_doc.values():
        for tok, c in cnt.items():
            df[tok] += 1
            tf[tok] += c
            if c >= 2:
                df2[tok] += 1
    expected = sorted(
        (
            (t, df[t], tf[t], 1000 * df2[t] // df[t], 1000 * tf[t] // df[t])
            for t in df
        ),
        key=lambda x: (-x[1], x[0]),
    )[:BURST_TOP_N]
    got = [
        (r.tok, r.df, r.tf, r.burstiness_permille, r.mean_in_doc_permille)
        for r in token_burstiness_topk(spark, sf_dir).collect()
    ]
    assert sorted(got, key=lambda x: (-x[1], x[0])) == expected
    # non-degeneracy: repeats exist somewhere
    assert any(x[3] > 0 for x in expected)


def test_unigram_tvd_matches_bruteforce(spark, sf_dir):
    """Full-vocabulary TVD per source pair recomputed WITHOUT the
    absent-part closed form — over the union of both vocabularies —
    to prove the inner-join fold is algebraically identical."""
    freq: dict = defaultdict(Counter)
    for r in _doc_rows(spark, sf_dir):
        if r.source is not None:
            freq[r.source].update(r.text.split(" "))
    totals = {s: sum(c.values()) for s, c in freq.items()}
    srcs = sorted(freq)
    expected = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            na, nb = totals[a], totals[b]
            num = sum(
                abs(freq[a][t] * nb - freq[b][t] * na)
                for t in set(freq[a]) | set(freq[b])
            )
            common = set(freq[a]) & set(freq[b])
            expected[(a, b)] = (len(common), 1000 * num // (2 * na * nb))
    got = {
        (r.src_a, r.src_b): (r.n_common_types, r.tvd_permille)
        for r in unigram_tvd_sources(spark, sf_dir).collect()
    }
    assert got == expected
    # bounds: TVD is a metric in [0, 1000]
    assert all(0 <= v[1] <= 1000 for v in expected.values())


def test_mann_whitney_matches_bruteforce(spark, sf_dir):
    """Midrank U recomputed from a literal sorted rank assignment
    (fractional midranks x2), plus the z expression from the same
    moments with Python floats."""
    rows = [
        (r.n_chars, 1 if r.lang == "en" else 0)
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .collect()
    ]
    vals = sorted(rows)
    # literal midranks: positions are 1-based over the sorted list
    by_v: dict = defaultdict(list)
    for pos, (v, g) in enumerate(vals, start=1):
        by_v[v].append((pos, g))
    r1x2 = 0
    t3t = 0
    for v, entries in by_v.items():
        t = len(entries)
        mid2 = entries[0][0] + entries[-1][0]  # 2*midrank = first+last
        r1x2 += mid2 * sum(g for _, g in entries)
        t3t += t * t * t - t
    n1 = sum(g for _, g in rows)
    n0 = len(rows) - n1
    u1x2 = r1x2 - n1 * (n1 + 1)
    got = mann_whitney_u_lengths(spark, sf_dir).collect()[0]
    assert (got.n1, got.n0, got.u1_x2, got.u2_x2, got.tie_t3t) == (
        n1,
        n0,
        u1x2,
        2 * n1 * n0 - u1x2,
        t3t,
    )
    n = n1 + n0
    var = (n1 * n0 / 12.0) * ((n + 1.0) - t3t / (n * (n - 1.0)))
    z = (u1x2 - n1 * n0) / (2.0 * math.sqrt(var))
    assert math.isclose(got.z, z, rel_tol=1e-12)
    # U1 + U2 = n1*n0 identity (x2 both sides)
    assert got.u1_x2 + got.u2_x2 == 2 * n1 * n0


def test_dedup_token_savings_matches_bruteforce(spark, sf_dir):
    """Keep-first by (text -> min doc_id) recomputed literally."""
    rows = _doc_rows(spark, sf_dir)
    first: dict = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        first.setdefault(r.text, r.doc_id)
    agg: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in rows:
        ntok = len(r.text.split(" "))
        a = agg[r.source]
        a[0] += 1
        a[2] += ntok
        if first[r.text] == r.doc_id:
            a[1] += 1
            a[3] += ntok
    got = {
        r.source: (r.n_docs, r.n_kept, r.tok_total, r.tok_kept, r.savings_permille)
        for r in dedup_token_savings(spark, sf_dir).collect()
    }
    expected = {
        s: (a[0], a[1], a[2], a[3], 1000 * (a[2] - a[3]) // a[2])
        for s, a in agg.items()
    }
    assert got == expected


def test_user_cadence_matches_bruteforce(spark, sf_dir):
    """Per-user gap moments recomputed from sorted (epoch-second,
    event_id) sequences; the cv2 cross-multiplication and the min-gap
    gate must agree exactly."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
            "event_id",
        )
        .collect()
    )
    seqs: dict = defaultdict(list)
    for r in ev:
        seqs[r.user_id].append((r.us // 1_000_000, r.event_id))
    expected = {}
    for uid, entries in seqs.items():
        entries.sort()
        gaps = [
            entries[i][0] - entries[i - 1][0] for i in range(1, len(entries))
        ]
        n = len(gaps)
        if n < CADENCE_MIN_GAPS:
            continue
        s = sum(gaps)
        q = sum(g * g for g in gaps)
        cv2 = 0 if s == 0 else 1000 * (n * q - s * s) // (s * s)
        expected[uid] = (n + 1, s // n, cv2)
    got = {
        r.user_id: (r.n_events, r.mean_gap_s, r.cv2_permille)
        for r in user_cadence_regularity(spark, sf_dir).collect()
    }
    assert got == expected
    assert expected, "gate must keep some users at every SF"


def test_brier_decomposition_matches_bruteforce(spark, sf_dir):
    """NTILE bins recomputed literally (first n%b tiles one row wider
    over the (score, key) order), then every Murphy term in exact
    integer arithmetic; and the per-group identity REL - RES sums
    consistently against a float Brier recompute."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_totalprice", "o_orderkey", "o_orderstatus")
        .collect()
    )
    by_grp: dict = defaultdict(list)
    for r in orders:
        by_grp[r.o_orderpriority].append(
            (r.o_totalprice, r.o_orderkey, 1 if r.o_orderstatus == "F" else 0)
        )
    expected = {}
    for grp, rows in by_grp.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        n = len(rows)
        base, extra = divmod(n, BRIER_BINS)
        bins: dict = defaultdict(lambda: [0, 0])
        i = 0
        for b in range(1, BRIER_BINS + 1):
            width = base + (1 if b <= extra else 0)
            for _ in range(width):
                bins[b][0] += 1
                bins[b][1] += rows[i][2]
                i += 1
        ng = n
        posg = sum(v[1] for v in bins.values())
        for b, (nb, pos) in bins.items():
            rel = (
                1_000_000
                * (b * nb - BRIER_BINS * pos) ** 2
                // (BRIER_BINS * BRIER_BINS * nb)
            )
            res = 1_000_000 * (pos * ng - posg * nb) ** 2 // (nb * ng * ng)
            unc = 1_000_000 * posg * (ng - posg) // (ng * ng)
            expected[(grp, b)] = (
                nb,
                pos,
                b * 100,
                1000 * pos // nb,
                rel,
                res,
                unc,
            )
    got = {
        (r.grp, r.bin): (
            r.n,
            r.positives,
            r.forecast_permille,
            r.rate_permille,
            r.rel_contrib_micro,
            r.res_contrib_micro,
            r.unc_grp_micro,
        )
        for r in brier_decomposition_exact(spark, sf_dir).collect()
    }
    assert got == expected
    # Murphy identity sanity (floats): REL - RES + UNC ~ binned Brier
    for grp, rows in by_grp.items():
        rows.sort(key=lambda t: (t[0], t[1]))
        n = len(rows)
        base, extra = divmod(n, BRIER_BINS)
        i = 0
        brier = 0.0
        rel = res = 0.0
        posg = sum(t[2] for t in rows)
        obar = posg / n
        for b in range(1, BRIER_BINS + 1):
            width = base + (1 if b <= extra else 0)
            chunk = rows[i : i + width]
            i += width
            f = b / BRIER_BINS
            ok = sum(t[2] for t in chunk) / width
            brier += sum((f - t[2]) ** 2 for t in chunk)
            rel += width * (f - ok) ** 2
            res += width * (ok - obar) ** 2
        lhs = brier / n
        rhs = rel / n - res / n + obar * (1 - obar)
        assert math.isclose(lhs, rhs, rel_tol=1e-9)


def test_cramer_von_mises_matches_bruteforce(spark, sf_dir):
    """Literal double-loop CvM: pooled ECDFs evaluated at every
    observation, exact integer cross-multiplication."""
    rows = [
        (r.n_chars, 1 if r.lang == "en" else 0)
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .collect()
    ]
    xs = sorted(v for v, g in rows if g == 1)
    ys = sorted(v for v, g in rows if g == 0)
    n1, n0 = len(xs), len(ys)
    import bisect

    s = 0
    for v, _ in rows:
        fa = bisect.bisect_right(xs, v)
        fb = bisect.bisect_right(ys, v)
        s += (fa * n0 - fb * n1) ** 2
    t_micro = 10**6 * s // ((n1 + n0) * (n1 + n0) * n1 * n0)
    got = cramer_von_mises_lengths(spark, sf_dir).collect()[0]
    assert (got.n1, got.n0, got.t_micro) == (n1, n0, t_micro)
    assert t_micro >= 0


def test_mood_median_matches_bruteforce(spark, sf_dir):
    """Exact lower median + literal 2xk chi2 cell recompute."""
    rows = [
        (r.lang, r.n_chars)
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull() & F.col("lang").isNotNull())
        .collect()
    ]
    vals = sorted(v for _, v in rows)
    med = vals[(len(vals) + 1) // 2 - 1]
    cells: dict = defaultdict(lambda: [0, 0])
    for lang, v in rows:
        cells[lang][0 if v > med else 1] += 1
    n = len(rows)
    ra = sum(c[0] for c in cells.values())
    rb = n - ra
    expected = {}
    for lang, (a, b) in cells.items():
        nj = a + b
        for side, o, r in (("above", a, ra), ("below", b, rb)):
            expected[(lang, side)] = (
                o,
                r * nj * 1000 // n,
                (o * n - r * nj) ** 2 * 10**6 // (n * r * nj),
            )
    got = {
        (r.lang, r.side): (r.observed, r.expected_permille, r.chi2_contrib_micro)
        for r in mood_median_test_langs(spark, sf_dir).collect()
    }
    assert got == expected
    assert 0 < ra < n, "median split must be non-degenerate"


def test_referential_integrity_matches_bruteforce(spark, sf_dir):
    li = [r.l_orderkey for r in load_table(spark, sf_dir, "lineitem").select("l_orderkey").collect()]
    orders = {
        r.o_orderkey: r.o_custkey
        for r in load_table(spark, sf_dir, "orders").collect()
    }
    custs = {r.c_custkey for r in load_table(spark, sf_dir, "customer").collect()}
    fan = Counter(Counter(li).values())
    got = {
        (r.metric, r.k): r.n
        for r in referential_integrity_audit(spark, sf_dir).collect()
    }
    for k, n in fan.items():
        assert got[("order_fanout", k)] == n
    assert got[("orders_without_lineitems", 0)] == sum(
        1 for o in orders if o not in set(li)
    )
    assert got[("customers_without_orders", 0)] == sum(
        1 for c in custs if c not in set(orders.values())
    )
    assert got[("lineitems_orphaned", 0)] == sum(
        1 for o in li if o not in orders
    )
    assert got[("orders_orphaned", 0)] == sum(
        1 for c in orders.values() if c not in custs
    )
    # non-degeneracy: the fanout histogram spans several widths
    # (customers_without_orders is 0 at the synthetic sf0.001 —
    # unlike true TPC-H — so the histogram is the live signal)
    assert len(fan) >= 3


def test_ingest_dedup_delta_matches_bruteforce(spark, sf_dir):
    import hashlib

    rows = _doc_rows(spark, sf_dir)
    ids = [r.doc_id for r in rows]
    lo, hi = min(ids), max(ids)
    cut = lo + (hi - lo + 1) * 4 // 5
    old_h = {
        hashlib.md5(r.text.encode()).hexdigest()
        for r in rows
        if r.doc_id < cut
    }
    seen: dict = {}
    agg: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for r in sorted((r for r in rows if r.doc_id >= cut), key=lambda r: r.doc_id):
        h = hashlib.md5(r.text.encode()).hexdigest()
        ntok = len(r.text.split(" "))
        a = agg[r.source]
        a[0] += 1
        a[4] += ntok
        if h in old_h:
            a[1] += 1
        elif h in seen:
            a[2] += 1
        else:
            seen[h] = True
            a[3] += 1
            a[5] += ntok
    got = {
        r.source: (r.n_new, r.n_dup_corpus, r.n_dup_intra, r.n_kept, r.tok_new, r.tok_kept)
        for r in ingest_dedup_delta(spark, sf_dir).collect()
    }
    assert got == {s: tuple(a) for s, a in agg.items()}
    # the split is non-degenerate: both sides populated
    assert old_h and seen is not None and sum(a[0] for a in agg.values()) > 0


def test_dow_uniformity_matches_bruteforce(spark, sf_dir):
    """Portable weekday arithmetic + exact chi2-x7 contributions."""
    import datetime

    rows = [
        r.o_orderdate
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderdate")
        .where(F.col("o_orderdate").isNotNull())
        .collect()
    ]
    anchor = datetime.date(1970, 1, 5)  # a Monday
    cnt = Counter((d.date() - anchor).days % 7 for d in rows)
    n = sum(cnt.values())
    got = {
        r.dow: (r.observed, r.expected_floor, r.chi2_contrib_x7_micro)
        for r in dow_uniformity_audit(spark, sf_dir).collect()
    }
    expected = {
        dow: (o, n // 7, (7 * o - n) ** 2 * 10**6 // (7 * n))
        for dow, o in cnt.items()
    }
    assert got == expected
    # every weekday occurs at every SF (orders span years)
    assert set(cnt) == set(range(7))


def test_sql_named_window_matches_inline_over(spark, sf_dir):
    """The WINDOW clause must be pure sugar: identical rows to the
    inline OVER spelling."""
    from watermill_kinesis_spark.operators.sqltext import (
        run_sql,
        sql_named_window,
    )

    inline = run_sql(
        spark,
        sf_dir,
        """
        SELECT o_custkey, o_orderkey,
               CAST(RANK() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS order_seq,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS run_cents
        FROM orders WHERE o_custkey < 1000
        """,
    )
    a = sorted(map(tuple, sql_named_window(spark, sf_dir).collect()))
    b = sorted(map(tuple, inline.collect()))
    assert a == b and len(a) > 0


def test_recursive_cte_child_session_memoized(spark, sf_dir):
    """ADVICE r12: sql_recursive_cte must reuse ONE child session per
    parent — a fresh spark.newSession() per call accumulates a JVM
    SessionState (catalog, temp views, conf) per invocation in a
    resident engine, reclaimable only by GC."""
    from watermill_kinesis_spark.operators import sqltext

    sqltext._RECURSIVE_CHILD_MEMO.pop(spark, None)
    n1 = sqltext.sql_recursive_cte(spark, sf_dir).count()
    child1 = sqltext._RECURSIVE_CHILD_MEMO[spark]
    n2 = sqltext.sql_recursive_cte(spark, sf_dir).count()
    child2 = sqltext._RECURSIVE_CHILD_MEMO[spark]
    assert child1 is child2 and child1 is not spark
    assert n1 == n2 > 0
    # the fuse override stays scoped to the child
    assert int(child1.conf.get("spark.sql.cteRecursionRowLimit")) == 2**31 - 1
