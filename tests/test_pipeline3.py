"""Invariant tests for concat-chunk packing (pipeline), hash-keyed
exact dedup (dedup) and the SQL-text interface (sqltext)."""

from pyspark.sql import Window as W, functions as F

from watermill_kinesis_spark.operators.pipeline import PACK_BUDGET
from watermill_kinesis_spark.registry import queries


def test_pack_offsets_tile_each_source_stream(spark, sf_dir):
    out = queries()["pack_concat_offsets"](spark, sf_dir).cache()
    try:
        # consecutive docs abut exactly: next tok_start == prev tok_end
        w = W.partitionBy("source").orderBy("doc_id")
        gaps = (
            out.withColumn("prev_end", F.lag(F.col("tok_start") + F.col("n_toks")).over(w))
            .where(F.col("prev_end").isNotNull())
            .where(F.col("tok_start") != F.col("prev_end"))
        )
        assert gaps.count() == 0
        # sequence spans are consistent with the token interval
        bad = out.where(
            (F.col("first_seq") > F.col("last_seq"))
            | (F.col("first_seq") != F.floor(F.col("tok_start") / PACK_BUDGET))
        )
        assert bad.count() == 0
    finally:
        out.unpersist()


def test_dedup_hashkey_matches_text_keyed_dedup(spark, sf_dir):
    by_text = {
        tuple(r) for r in queries()["dedup_exact"](spark, sf_dir).collect()
    }
    by_hash = {
        tuple(r) for r in queries()["dedup_exact_hashkey"](spark, sf_dir).collect()
    }
    assert by_text == by_hash


def test_sql_interface_window_ranks_start_at_one(spark, sf_dir):
    out = queries()["sql_text_interface"](spark, sf_dir).cache()
    try:
        assert out.where(F.col("n_orders") <= 5).count() == 0
        firsts = out.groupBy("nation").agg(F.min("rk").alias("m"))
        assert firsts.where(F.col("m") != 1).count() == 0
    finally:
        out.unpersist()
