"""Invariants for winnowing, content-defined chunking, n-gram novelty
and substring excision (dedup), length trim and shard balance
(pipeline) and vocabulary coverage (text) — semantic guarantees the
row-hash oracle can't express (the oracle pins values; these pin
meaning)."""

from __future__ import annotations

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.dedup import (
    NOVELTY_N,
    WINNOW_K,
    WINNOW_W,
    chunk_cdc_rolling,
    ngram_novelty_score,
    winnowing_fingerprints,
)
from watermill_kinesis_spark.operators.pipeline import (
    length_trim_percentile,
    shard_balance_audit,
)
from watermill_kinesis_spark.operators.text import vocab_coverage_topk
from watermill_kinesis_spark.sources.tables import load_table


def test_winnowing_counts_and_density(spark, sf_dir):
    docs = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    rows = winnowing_fingerprints(spark, sf_dir).collect()
    for r in rows:
        # full windows = (#grams) - (w-1) = n_chars - k - w + 2
        assert r.n_windows == docs[r.doc_id] - WINNOW_K - WINNOW_W + 2
        assert 1 <= r.n_fingerprints <= r.n_windows
        # winnowing density ~2/(w+1): selected set is a strict subset
        assert r.n_fingerprints < r.n_windows or r.n_windows <= 2


def test_winnowing_shared_substring_shares_fingerprint(spark, sf_dir):
    """The winnowing guarantee: two docs sharing a substring of length
    ≥ k+w−1 share at least one selected fingerprint. The synthetic
    corpus repeats phrases heavily, so find any 2 docs sharing a
    (k+w−1)-char substring and check their fingerprint sets meet."""
    d = load_table(spark, sf_dir, "documents")
    L = WINNOW_K + WINNOW_W - 1
    sub = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - L + 1)
        ).alias("i"),
        "text",
    ).select("doc_id", F.substr("text", F.col("i"), F.lit(L)).alias("s"))
    pair = (
        sub.alias("a")
        .join(sub.alias("b"), "s")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .first()
    )
    assert pair is not None, "corpus unexpectedly has no shared substrings"
    # recompute the SELECTED fingerprint sets for the two docs
    from pyspark.sql import Window as W

    grams = (
        d.where(F.col("doc_id").isin(pair.x, pair.y))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - WINNOW_K + 1)
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            "i",
            F.md5(F.substr("text", F.col("i"), F.lit(WINNOW_K))).alias("h"),
        )
    )
    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(WINNOW_W - 1), 0)
    rn = W.partitionBy("doc_id").orderBy("i")
    fps = (
        grams.select(
            "doc_id",
            F.min("h").over(win).alias("fp"),
            F.row_number().over(rn).alias("rn"),
        )
        .where(F.col("rn") >= WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
    )
    shared = (
        fps.where(F.col("doc_id") == pair.x)
        .select("fp")
        .intersect(fps.where(F.col("doc_id") == pair.y).select("fp"))
        .count()
    )
    assert shared >= 1


def test_cdc_chunks_partition_the_document(spark, sf_dir):
    docs = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    for r in chunk_cdc_rolling(spark, sf_dir).collect():
        assert r.n_chunks >= 1
        assert 0 <= r.tail_chunk <= docs[r.doc_id]
        assert r.max_chunk <= docs[r.doc_id]


def test_novelty_first_doc_fully_novel_and_totals(spark, sf_dir):
    rows = ngram_novelty_score(spark, sf_dir).collect()
    by_id = {r.doc_id: r for r in rows}
    first = min(by_id)
    assert by_id[first].novelty_permille == 1000  # nothing precedes it
    for r in rows:
        assert 0 <= r.n_novel <= r.n_grams
    # every distinct gram is novel in exactly one doc (its first)
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.size("t") - NOVELTY_N + 1)
    n_distinct = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") >= NOVELTY_N)
        .select(F.explode(starts).alias("i"), "t")
        .select(F.array_join(F.slice("t", F.col("i"), NOVELTY_N), " ").alias("g"))
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == n_distinct


def test_length_trim_bounds(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    per_source = {
        r.source: (r.n, r.lo, r.hi)
        for r in d.groupBy("source").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        ).collect()
    }
    for r in length_trim_percentile(spark, sf_dir).collect():
        n, lo, hi = per_source[r.source]
        assert r.n_total == n
        cut = n * 5 // 100
        assert r.n_kept == n - 2 * cut
        assert lo <= r.min_kept_chars <= r.max_kept_chars <= hi


def test_vocab_coverage_monotone(spark, sf_dir):
    rows = {r.k: r for r in vocab_coverage_topk(spark, sf_dir).collect()}
    assert set(rows) == {10, 100, 1000}
    assert (
        rows[10].covered_tokens
        <= rows[100].covered_tokens
        <= rows[1000].covered_tokens
        <= rows[10].total_tokens
    )
    assert len({r.total_tokens for r in rows.values()}) == 1
    # full-vocab coverage is total
    if rows[1000].n_types <= 1000:
        assert rows[1000].covered_tokens == rows[1000].total_tokens


def test_shard_balance_partitions_everything(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    n_bytes = d.agg(F.sum("n_chars")).collect()[0][0]
    rows = shard_balance_audit(spark, sf_dir).collect()
    assert len(rows) <= 16
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_bytes for r in rows) == n_bytes
    assert all(set(r.shard) <= set("0123456789abcdef") for r in rows)


def test_exact_substring_winnowing_superset_guarantee(spark, sf_dir):
    """The candidate set from the fingerprint join must contain EVERY
    pair sharing a >=L-char window (the winnowing guarantee) — checked
    here against the direct gram join the oracle also uses, and the
    final result must equal that direct join exactly."""
    from watermill_kinesis_spark.operators.dedup import (
        SUB_L,
        SUB_MAX_DOC,
        _char_gram_hashes,
        dedup_exact_substring,
    )
    from watermill_kinesis_spark.sources.tables import load_table

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < SUB_MAX_DOC)
    )
    g = _char_gram_hashes(d, SUB_L).select("doc_id", "h").distinct()
    direct = (
        g.alias("a")
        .join(g.alias("b"), "h")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    got = dedup_exact_substring(spark, sf_dir)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )


# ---------------------------------------------------------------------------
# exact-substring excision (r8 VERDICT task 2)


def _excise_reference(texts: dict[int, str], L: int):
    """Naive O(corpus²-ish) reference for the excision semantics:
    global keep-first duplicate marking over raw L-grams, merged
    maximal spans, census + kept text per doc."""
    first: dict[str, tuple[int, int]] = {}
    for doc_id in sorted(texts):
        t = texts[doc_id]
        for i in range(1, len(t) - L + 2):
            g = t[i - 1 : i - 1 + L]
            first.setdefault(g, (doc_id, i))
    out = {}
    for doc_id in sorted(texts):
        t = texts[doc_id]
        dup_pos = [
            i
            for i in range(1, len(t) - L + 2)
            if first[t[i - 1 : i - 1 + L]] != (doc_id, i)
        ]
        spans: list[list[int]] = []
        for i in dup_pos:
            if spans and i <= spans[-1][1] + 1:
                spans[-1][1] = max(spans[-1][1], i + L - 1)
            else:
                spans.append([i, i + L - 1])
        removed = sum(e - s + 1 for s, e in spans)
        kept = ""
        pos = 1
        for s, e in spans:
            kept += t[pos - 1 : s - 1]
            pos = e + 1
        kept += t[pos - 1 :]
        out[doc_id] = {
            "n_chars": len(t),
            "n_removed": removed,
            "n_spans": len(spans),
            "kept": kept,
        }
    return out


def test_excise_census_and_text_match_bruteforce(spark, sf_dir):
    """The winnowing-accelerated excision must equal the naive global
    keep-first reference on the real sf0.001 corpus — census AND the
    materialized kept text, byte for byte."""
    from watermill_kinesis_spark.operators.dedup import (
        SUB_L,
        dedup_substring_excise,
        dedup_substring_excise_text,
    )

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    ref = _excise_reference(texts, SUB_L)
    census = {r.doc_id: r for r in dedup_substring_excise(spark, sf_dir).collect()}
    kept = {
        r.doc_id: r.kept_text
        for r in dedup_substring_excise_text(spark, sf_dir).collect()
    }
    assert set(census) == set(ref) == set(kept)
    for doc_id, want in ref.items():
        r = census[doc_id]
        assert (r.n_chars, r.n_removed_chars, r.n_dup_spans) == (
            want["n_chars"],
            want["n_removed"],
            want["n_spans"],
        ), doc_id
        assert r.n_kept_chars == want["n_chars"] - want["n_removed"]
        assert kept[doc_id] == want["kept"], doc_id
    # the corpus must actually contain excisions for this test to bite
    assert any(w["n_removed"] > 0 for w in ref.values())


def test_excise_edge_cases_handcrafted(spark, monkeypatch):
    """Edge semantics on a handcrafted corpus: an exact full-copy doc
    excises to the EMPTY string (not a pass-through), intra-doc
    repeats mark only the later occurrence, sub-L docs and unique docs
    pass through verbatim, and overlapping dup windows merge into one
    maximal span."""
    import watermill_kinesis_spark.operators.dedup as dedup

    base = "The quick brown fox jumps over the lazy dog while zebras watch."
    uniq = "Completely original content with no repeats anywhere inside it!"
    intra = "abcdefghijklmnopqrstuvwxyz0123 MIDDLE abcdefghijklmnopqrstuvwxyz0123"
    texts = {
        0: base,
        1: base,  # full copy of doc 0 → empty after excision
        2: "prefix text then " + base[:40] + " and a unique tail here....",
        3: intra,  # intra-doc repeat → later copy excised
        4: "short doc",  # < SUB_L chars → untouched
        5: uniq,
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    monkeypatch.setattr(dedup, "load_table", lambda _s, _d, _t: df)
    ref = _excise_reference(texts, dedup.SUB_L)
    census = {r.doc_id: r for r in dedup.dedup_substring_excise(spark, "_").collect()}
    kept = {
        r.doc_id: r.kept_text
        for r in dedup.dedup_substring_excise_text(spark, "_").collect()
    }
    for doc_id, want in ref.items():
        r = census[doc_id]
        assert (r.n_chars, r.n_removed_chars, r.n_dup_spans) == (
            want["n_chars"],
            want["n_removed"],
            want["n_spans"],
        ), doc_id
        assert kept[doc_id] == want["kept"], doc_id
    # the cases actually exercise what they claim
    assert kept[1] == "" and ref[1]["n_removed"] == len(base)
    assert ref[3]["n_removed"] > 0  # intra-doc dup detected
    assert kept[4] == texts[4] and kept[5] == texts[5]
