"""Invariant tests for relational (histogram, argmax), windows
(time-weighted average, SCD2, percentile windows), text (unigram
score) and dedup (prefix and capped containment) operators.

The DuckDB oracle pins exact values; these tests pin the *semantics*
that the oracle can't express as a hash — structural invariants that
must hold for any input."""

from pyspark.sql import functions as F

from watermill_kinesis_spark.operators.dedup import CONTAIN_T
from watermill_kinesis_spark.operators.relational import HIST_BUCKETS
from watermill_kinesis_spark.registry import queries
from watermill_kinesis_spark.sources.tables import load_table


def test_histogram_buckets_partition_the_table(spark, sf_dir):
    out = queries()["histogram_fixed_width"](spark, sf_dir)
    rows = out.collect()
    assert all(0 <= r["bucket"] < HIST_BUCKETS for r in rows)
    ev = load_table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()


def test_time_weighted_avg_bounded_by_extremes(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    for r in queries()["time_weighted_avg"](spark, sf_dir).collect():
        assert lo <= r["twa_value"] <= hi


def test_scd2_intervals_tile_each_user_history(spark, sf_dir):
    out = queries()["scd2_intervals"](spark, sf_dir).cache()
    try:
        ev = load_table(spark, sf_dir, "events")
        # run events are conserved
        assert out.agg(F.sum("n_events")).first()[0] == ev.count()
        # exactly one open interval (valid_to NULL) per user
        open_counts = (
            out.where(F.col("valid_to").isNull()).groupBy("user_id").count()
        )
        assert open_counts.where(F.col("count") != 1).count() == 0
        # intervals are strictly ordered: valid_from < valid_to everywhere
        assert out.where(F.col("valid_to") <= F.col("valid_from")).count() == 0
        # consecutive runs always change event_type
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy("valid_from")
        repeated = out.withColumn("prev", F.lag("event_type").over(w)).where(
            F.col("event_type") == F.col("prev")
        )
        assert repeated.count() == 0
    finally:
        out.unpersist()


def test_agg_argmax_matches_window_formulation(spark, sf_dir):
    out = {r["nation"]: r for r in queries()["agg_argmax"](spark, sf_dir).collect()}
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window as W

    j = c.join(n, c.c_nationkey == n.n_nationkey)
    w = W.partitionBy("n_name").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    top = j.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    for r in top.collect():
        assert out[r["n_name"]]["top_custkey"] == r["c_custkey"]
        assert out[r["n_name"]]["top_acctbal"] == r["c_acctbal"]


def test_window_percentile_dist_ranges(spark, sf_dir):
    rows = queries()["window_percentile_dist"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["pr"] <= 1.0
        assert 0.0 < r["cd"] <= 1.0


def test_prefix_containment_pairs_are_real_prefixes(spark, sf_dir):
    out = queries()["dedup_prefix_containment"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    a = d.select(F.col("doc_id").alias("doc_trunc"), F.col("text").alias("ta"))
    b = d.select(F.col("doc_id").alias("doc_full"), F.col("text").alias("tb"))
    joined = out.join(a, "doc_trunc").join(b, "doc_full").collect()
    for r in joined:
        assert r["tb"].startswith(r["ta"]) and len(r["ta"]) < len(r["tb"])
        assert 0.0 < r["len_ratio"] < 1.0


def test_containment_supersets_jaccard_pairs(spark, sf_dir):
    """Every Jaccard>=0.6 pair implies containment>=0.6 of the smaller
    side; with the 0.8 threshold the containment set must at least catch
    every pair the symmetric operator scores >=0.8."""
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in queries()["dedup_ngram_jaccard"](spark, sf_dir).collect()
        if r["jaccard"] >= CONTAIN_T
    }
    cont = {
        tuple(sorted((r["doc_sub"], r["doc_super"])))
        for r in queries()["dedup_containment_ngram"](spark, sf_dir).collect()
    }
    assert jac <= cont


def test_unigram_freq_score_bounds(spark, sf_dir):
    out = queries()["unigram_freq_score"](spark, sf_dir).cache()
    try:
        d = load_table(spark, sf_dir, "documents")
        assert out.count() == d.count()  # every doc is scored
        bad = out.where(
            (F.col("avg_tok_freq") < 1.0)
            | (F.col("rare_frac") < 0.0)
            | (F.col("rare_frac") > 1.0)
        )
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_containment_capped_drops_hot_shingles(spark, tmp_path):
    """The DF-capped twin: a boilerplate shingle shared by 150 docs
    (df > CONTAIN_DF_CAP=100) must generate NO candidate pairs — the
    exact face would emit all 150*149/2 of them — while a genuine
    containment pair built from sub-cap shingles still surfaces."""
    import pandas as pd

    from watermill_kinesis_spark.operators.dedup import CONTAIN_DF_CAP

    assert CONTAIN_DF_CAP < 150
    rows = [
        {"doc_id": 1, "text": "a b c d e"},
        {"doc_id": 2, "text": "a b c d e f"},
    ]
    rows += [{"doc_id": 100 + i, "text": "h1 h2 h3 h4 h5"} for i in range(150)]
    pdf = pd.DataFrame(rows)
    pdf["lang"] = "en"
    pdf["source"] = "s"
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    pdf["doc_id"] = pdf["doc_id"].astype("int64")
    sf = tmp_path / "sf"
    sf.mkdir()
    pdf[["doc_id", "text", "lang", "source", "n_chars"]].to_parquet(
        str(sf / "documents.parquet"), index=False
    )
    capped = queries()["dedup_containment_capped"](spark, str(sf)).collect()
    got = {(r["doc_sub"], r["doc_super"]) for r in capped}
    assert got == {(1, 2)}  # hot-shingle docs generate nothing
    assert all(r["containment"] == 1.0 for r in capped)
    # the exact face, by contrast, pairs every hot-shingle doc
    exact = queries()["dedup_containment_ngram"](spark, str(sf))
    assert exact.count() == 2 * (150 * 149 // 2) + 1  # both directions + (1,2)


def test_containment_capped_equals_exact_below_cap(spark, sf_dir):
    """With no shingle above the cap (true at sf0.001), the capped
    face must emit exactly the exact face's pairs."""
    from watermill_kinesis_spark.functions.textexpr import word_shingles
    from watermill_kinesis_spark.operators.dedup import SHINGLE_N

    df_max = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(word_shingles("toks", SHINGLE_N)).alias("sh"))
        .groupBy("sh").count().agg(F.max("count")).first()[0]
    )
    if df_max > 100:  # fixture condition not met at this SF
        return
    a = {tuple(r) for r in queries()["dedup_containment_capped"](spark, sf_dir).collect()}
    b = {tuple(r) for r in queries()["dedup_containment_ngram"](spark, sf_dir).collect()}
    assert a == b and len(a) > 0
