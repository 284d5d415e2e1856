"""Round-8 pins: the matryoshka zero-norm guard regression test
(VERDICT r7 task 7) and the hll_sketch_native audit-twin contract."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from watermill_kinesis_spark.registry import queries


def _write_embeddings(spark, tmp_path, vecs):
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs.items()], schema
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))


def test_matryoshka_zero_prefix_vector_never_tops_truncated_ranking(
    spark, tmp_path
):
    """Regression pin for the zero-norm guard (similarity.py): a
    candidate whose MRL_DIM prefix is all-zero must score −1.0 in the
    truncated variant (DuckDB's zero-vector convention) — NEVER
    0/0 = NaN, which Spark's descending sort places ABOVE every finite score, silently promoting garbage into
    the truncated top-k. The pin compares the operator's per-query
    overlap against a brute force that applies the −1.0 convention
    explicitly, on data where the poisoned candidate would flip the
    overlap if it ever re-entered the truncated ranking."""
    from watermill_kinesis_spark.operators.similarity import (
        EMB_DIM,
        N_QUERIES,
        TOP_K,
    )
    from watermill_kinesis_spark.operators.similarity import MRL_DIM

    rng = np.random.default_rng(8)
    vecs: dict[int, np.ndarray] = {}
    for q in range(N_QUERIES):  # queries: random full-rank vectors
        vecs[q] = rng.normal(size=EMB_DIM)
    for c in range(20):  # ordinary candidates
        vecs[100 + c] = rng.normal(size=EMB_DIM)
    # poisoned candidate: zero MRL prefix, huge tail — a strong FULL
    # neighbor (big dot product via the tail) whose TRUNCATED cosine is
    # 0/0 without the guard
    poison = np.zeros(EMB_DIM)
    poison[MRL_DIM:] = 50.0 * np.sign(vecs[0][MRL_DIM:])
    vecs[200] = poison
    vecs[201] = np.zeros(EMB_DIM)  # zero FULL vector: −1.0 everywhere
    _write_embeddings(spark, tmp_path, vecs)

    got = {
        r.query_id: (r.n_overlap, r.overlap_permille)
        for r in queries()["embedding_matryoshka_audit"](
            spark, str(tmp_path)
        ).collect()
    }

    # brute force with the documented convention (float32 storage)
    ids = sorted(vecs)
    M = np.stack([np.asarray(vecs[i], dtype=np.float32) for i in ids]).astype(
        np.float64
    )

    def topk(q, dims):
        qv = M[ids.index(q)][:dims]
        qn = np.linalg.norm(qv)
        scores = []
        for j, i in enumerate(ids):
            if i == q:
                continue
            cv = M[j][:dims]
            cn = np.linalg.norm(cv)
            s = -1.0 if (qn == 0.0 or cn == 0.0) else float(
                (cv / cn) @ (qv / qn)
            )
            scores.append((-s, i))
        return {i for _, i in sorted(scores)[:TOP_K]}

    expect = {}
    for q in range(N_QUERIES):
        full, trunc = topk(q, EMB_DIM), topk(q, MRL_DIM)
        ov = len(full & trunc)
        expect[q] = (ov, ov * 1000 // TOP_K)
    assert got == expect
    # the crafted data must actually exercise the guard: the poisoned
    # candidate is a FULL top-k neighbor of query 0 (tail-aligned) yet
    # absent from its truncated top-k — so a NaN regression would
    # change the overlap, not just a hidden internal score
    assert 200 in topk(0, EMB_DIM)
    assert 200 not in topk(0, MRL_DIM)
    assert got[0] == expect[0]


def test_hll_sketch_native_audit_executes_sketch_path(spark, sf_dir):
    """The converted audit twin must carry exact counts AND a green
    union verdict per event type (non-vacuous: n_days > 1 somewhere,
    so hll_union_agg really merges)."""
    rows = queries()["hll_sketch_native"](spark, sf_dir).collect()
    assert rows and all(r.union_within_bound == 1 for r in rows)
    assert any(r.n_days > 1 for r in rows)
    assert all(r.n_users_exact > 0 for r in rows)


def test_bm25_matches_bruteforce(spark, sf_dir):
    """Straight-line Python BM25 (same log-free rational idf, same
    k1/b) over the collected corpus must reproduce the engine's
    top-k ranking exactly."""
    from watermill_kinesis_spark.operators.retrieval import (
        BM25_K,
        BM25_TERMS,
        bm25_topk,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    got = [(r.doc_id, r.rank) for r in bm25_topk(spark, sf_dir).collect()]
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
        .collect()
    )
    toks = {r.doc_id: r.text.split(" ") for r in docs}
    n = len(toks)
    sumdl = sum(len(t) for t in toks.values())
    df = {
        t: sum(1 for tk in toks.values() if t in tk) for t in BM25_TERMS
    }
    scored = []
    for doc_id, tk in toks.items():
        dl = len(tk)
        s = 0.0
        for t in BM25_TERMS:
            tf = sum(1 for x in tk if x == t)
            idf = (float(n) - df[t] + 0.5) / (df[t] + 0.5)
            s += idf * (
                (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 * (float(dl) * float(n) / float(sumdl))))
            )
        scored.append((-s, doc_id))
    expect = [
        (doc_id, i + 1)
        for i, (_, doc_id) in enumerate(sorted(scored)[:BM25_K])
    ]
    assert got == expect


def test_cusum_matches_bruteforce(spark, sf_dir):
    from collections import Counter

    from watermill_kinesis_spark.operators.evaluation import cusum_changepoint_days
    from watermill_kinesis_spark.sources.tables import load_table

    got = {
        r.event_type: (r.n_days, r.max_abs_cusum_scaled, r.changepoint_day)
        for r in cusum_changepoint_days(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("day"))
        .collect()
    )
    per_type: dict[str, Counter] = {}
    for r in ev:
        per_type.setdefault(r.event_type, Counter())[r.day] += 1
    for t, days in per_type.items():
        n_days = len(days)
        total = sum(days.values())
        cum = 0
        best = None
        for i, day in enumerate(sorted(days), start=1):
            cum += days[day]
            a = abs(n_days * cum - i * total)
            if best is None or a > best[0]:
                best = (a, day)
        assert got[t] == (n_days, best[0], best[1])
    assert set(got) == set(per_type)


def test_approx_percentile_audit_interval_math(spark, sf_dir):
    """Non-vacuity: recompute the sketch values and the exact rank
    intervals in numpy and confirm the operator's verdicts equal the
    interval-distance rule it documents."""
    import numpy as np

    from watermill_kinesis_spark.operators.frequency import (
        APPROX_PCT_ACCURACY,
        APPROX_PCT_PERCENTS,
        approx_percentile_rank_audit,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    out = {
        r.event_type: r
        for r in approx_percentile_rank_audit(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    pcts = ", ".join(str(p / 100) for p in APPROX_PCT_PERCENTS)
    ap = {
        r.event_type: r.ap
        for r in ev.groupBy("event_type")
        .agg(
            F.expr(
                f"approx_percentile(value, array({pcts}), {APPROX_PCT_ACCURACY})"
            ).alias("ap")
        )
        .collect()
    }
    vals: dict[str, list] = {}
    for r in ev.select("event_type", "value").collect():
        vals.setdefault(r.event_type, []).append(r.value)
    for t, xs in vals.items():
        xs = np.sort(np.array(xs))
        n = len(xs)
        assert out[t].n_rows == n
        slack = n // APPROX_PCT_ACCURACY + 1
        for p, v in zip(APPROX_PCT_PERCENTS, ap[t]):
            lo = int(np.searchsorted(xs, v, side="left")) + 1
            hi = int(np.searchsorted(xs, v, side="right"))
            target = (p * n + 99) // 100
            d = 0 if lo <= target <= hi else min(abs(lo - target), abs(target - hi))
            assert getattr(out[t], f"p{p}_within_guarantee") == int(d <= slack)
            assert d <= slack  # the sketch actually meets its contract


def test_grouping_sets_equals_unioned_group_bys(spark, sf_dir):
    from watermill_kinesis_spark.operators.sqltext import run_sql

    got = {
        (r.l_returnflag, r.l_linestatus, r.g_flag, r.g_status): (
            r.sum_qty,
            r.n_rows,
        )
        for r in queries()["sql_grouping_sets"](spark, sf_dir).collect()
    }
    full = run_sql(
        spark,
        sf_dir,
        "SELECT l_returnflag, l_linestatus,"
        " CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) s,"
        " COUNT(*) c FROM lineitem GROUP BY 1, 2",
    ).collect()
    assert all(
        got[(r.l_returnflag, r.l_linestatus, 0, 0)] == (r.s, r.c) for r in full
    )
    grand = run_sql(
        spark,
        sf_dir,
        "SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) s, COUNT(*) c"
        " FROM lineitem",
    ).collect()[0]
    assert got[(None, None, 1, 1)] == (grand.s, grand.c)
    # 4 sets: |flag×status| + |flag| + |status| + 1
    flags = {r.l_returnflag for r in full}
    statuses = {r.l_linestatus for r in full}
    assert len(got) == len(full) + len(flags) + len(statuses) + 1


def test_l_diversity_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.governance import (
        KANON_BAL_BAND,
        LDIV_L,
        l_diversity_audit,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    r = l_diversity_audit(spark, sf_dir).collect()[0]
    rows = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_acctbal", "c_mktsegment"
    ).collect()
    import math

    groups: dict[tuple, list] = {}
    for c in rows:
        key = (c.c_nationkey, math.floor(float(c.c_acctbal) / KANON_BAL_BAND))
        groups.setdefault(key, []).append(c.c_mktsegment)
    viol = {k: v for k, v in groups.items() if len(set(v)) < LDIV_L}
    assert r.n_groups == len(groups)
    assert r.n_violating_groups == len(viol)
    assert r.n_rows_at_risk == sum(len(v) for v in viol.values())
    assert r.min_distinct_sensitive == min(len(set(v)) for v in groups.values())


def test_knn_mutual_matches_bruteforce(spark, sf_dir):
    import numpy as np

    from watermill_kinesis_spark.operators.similarity import (
        KNN_MUTUAL_K,
        knn_mutual_label_blocked,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    got = {
        r.vec_id: r.n_mutual
        for r in knn_mutual_label_blocked(spark, sf_dir).collect()
    }
    rows = load_table(spark, sf_dir, "embeddings").collect()
    by_label: dict[int, list] = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(
            (r.vec_id, np.asarray(r.embedding, dtype=np.float64))
        )
    sel: dict[int, set] = {}
    for label, vs in by_label.items():
        for vid, v in vs:
            vn = np.linalg.norm(v)
            scored = []
            for wid, wv in vs:
                if wid == vid:
                    continue
                wn = np.linalg.norm(wv)
                c = -1.0 if vn == 0 or wn == 0 else float(v @ wv / (vn * wn))
                scored.append((-c, wid))
            sel[vid] = {w for _, w in sorted(scored)[:KNN_MUTUAL_K]}
    expect = {
        v: sum(1 for w in nbrs if v in sel.get(w, ()))
        for v, nbrs in sel.items()
    }
    assert got == expect
    assert any(v > 0 for v in got.values())  # graph has mutual edges
    assert any(v < KNN_MUTUAL_K for v in got.values())  # and asymmetry


def test_interval_islands_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.relational import (
        ISLAND_PAD_US,
        interval_coalesce_islands,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    got = {
        r.user_id: (r.n_events, r.n_islands, r.covered_us)
        for r in interval_coalesce_islands(spark, sf_dir).collect()
    }
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & (F.col("user_id") < 200))
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("s"))
        .collect()
    )
    per_user: dict[int, list] = {}
    for r in ev:
        per_user.setdefault(r.user_id, []).append(r.s)
    for u, starts in per_user.items():
        ivs = sorted((s, s + ISLAND_PAD_US) for s in starts)
        islands = []
        for s, e in ivs:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        covered = sum(e - s for s, e in islands)
        assert got[u] == (len(starts), len(islands), covered)
    assert set(got) == set(per_user)


def test_benford_counts_match_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.evaluation import (
        BENFORD_PERMILLE,
        benford_first_digit_audit,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    got = {
        r.digit: (r.n, r.observed_permille, r.benford_permille)
        for r in benford_first_digit_audit(spark, sf_dir).collect()
    }
    prices = [
        r.o_totalprice
        for r in load_table(spark, sf_dir, "orders").collect()
        if r.o_totalprice > 0
    ]
    counts = {d: 0 for d in range(1, 10)}
    for p in prices:
        counts[int(str(int(p * 100))[0])] += 1
    assert set(got) == set(range(1, 10))
    for d in range(1, 10):
        assert got[d] == (
            counts[d],
            counts[d] * 1000 // len(prices),
            BENFORD_PERMILLE[d - 1],
        )


def test_funnel_matches_bruteforce(spark, sf_dir):
    from watermill_kinesis_spark.operators.windows import (
        FUNNEL_WINDOW_US,
        funnel_conversion_windows,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    r = funnel_conversion_windows(spark, sf_dir).collect()[0]
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        )
        .collect()
    )
    per_user: dict[int, dict[str, list]] = {}
    for e in ev:
        per_user.setdefault(e.user_id, {}).setdefault(e.event_type, []).append(
            e.t
        )
    n_view = n_click = n_buy = 0
    for u, tys in per_user.items():
        if "view" not in tys:
            continue
        n_view += 1
        vt = min(tys["view"])
        clicks = [t for t in tys.get("click", []) if t >= vt]
        if not clicks:
            continue
        ct = min(clicks)
        if ct - vt <= FUNNEL_WINDOW_US:
            n_click += 1
        buys = [t for t in tys.get("purchase", []) if t >= ct]
        if buys and min(buys) - vt <= FUNNEL_WINDOW_US:
            n_buy += 1
    assert (r.n_viewers, r.n_clicked, r.n_purchased) == (
        n_view,
        n_click,
        n_buy,
    )
    assert r.conversion_permille == n_buy * 1000 // n_view
    assert n_view > 0


def test_chunker_covers_every_token_and_keeps_tails(spark, sf_dir):
    from watermill_kinesis_spark.operators.text import (
        CHUNK_S,
        CHUNK_W,
        chunk_documents_stride,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    chunks: dict[int, list] = {}
    for r in chunk_documents_stride(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_tok, r.n_tok)
        )
    docs = {
        r.doc_id: r.text.split(" ")
        for r in load_table(spark, sf_dir, "documents").collect()
        if r.text is not None
    }
    assert set(chunks) == set(docs)
    for doc_id, toks in docs.items():
        got = sorted(chunks[doc_id])
        n = len(toks)
        starts = list(range(1, max(n, 1) + 1, CHUNK_S))
        assert [s for _, s, _ in got] == starts
        assert [i for i, _, _ in got] == list(range(1, len(starts) + 1))
        # every token covered; tail chunk kept with its true length
        assert all(nt == min(CHUNK_W, n - s + 1) for _, s, nt in got)
        assert got[-1][1] + got[-1][2] - 1 == n


def test_rbo_matches_fraction_reference(spark, sf_dir):
    """Exact-rational RBO over the two rankings, computed independently
    with Fraction — must equal the scaled-integer output exactly
    (scale = 10^10 · 2520 · p/(1−p) folded: rbo_scaled/SCALE = Σ_d
    p^d·A_d/d)."""
    from watermill_kinesis_spark.operators.retrieval import (
        RBO_DEPTH,
        RBO_SUFFIX,
        _bm25_scored_topk,
        rank_biased_overlap_exact,
    )

    from fractions import Fraction

    r = rank_biased_overlap_exact(spark, sf_dir).collect()[0]
    # independent rankings via the factored bm25 stage + a tf ranking
    bm25_ids = [x.doc_id for x in _bm25_scored_topk(spark, sf_dir).collect()]
    from watermill_kinesis_spark.operators.retrieval import BM25_TERMS
    from watermill_kinesis_spark.sources.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .collect()
    )
    tf_scored = sorted(
        (
            -sum(sum(1 for w in d.text.split(" ") if w == t) for t in BM25_TERMS),
            d.doc_id,
        )
        for d in docs
    )
    tf_ids = [doc for _, doc in tf_scored[:RBO_DEPTH]]
    p = Fraction(9, 10)
    a = {}
    overlap = 0
    rbo = Fraction(0)
    for d in range(1, RBO_DEPTH + 1):
        s1, s2 = set(bm25_ids[:d]), set(tf_ids[:d])
        rbo += p**d * Fraction(len(s1 & s2), d)
    scale = Fraction(10**RBO_DEPTH * 2520)
    assert Fraction(r.rbo_scaled) == rbo * scale
    assert r.n_matched == len(set(bm25_ids) & set(tf_ids))
    assert sum(RBO_SUFFIX) > 0
