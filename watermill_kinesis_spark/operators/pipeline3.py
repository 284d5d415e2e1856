"""Pipeline wave 3: concat-and-chunk sequence packing offsets and the
hash-keyed exact dedup (the shuffle-bytes-minimal variant).

Same determinism discipline as the other pipeline modules: integer
arithmetic end to end; every emitted float is an exact small-integer
ratio."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import fanned_documents, load_table

#: training-sequence token budget for pack_concat_offsets
PACK_BUDGET = 256


@query(
    "pack_concat_offsets",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_toks
        FROM documents),
    placed AS (
        SELECT doc_id, source, n_toks,
               CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tok_end
        FROM sized)
    SELECT doc_id, source, n_toks,
           tok_end - n_toks AS tok_start,
           (tok_end - n_toks) // {PACK_BUDGET} AS first_seq,
           (tok_end - 1) // {PACK_BUDGET} AS last_seq
    FROM placed
    """,
    tags=("pipeline", "llm-pipeline"),
)
def pack_concat_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing layout: documents are concatenated per
    source stream in doc_id order and cut into fixed 256 (PACK_BUDGET)-token
    training sequences; each doc gets its global token interval and the
    sequence ids it spans (GPT-style packing — no padding, docs may
    straddle a boundary). One running-sum window per source partition —
    no global ordering anywhere, so the layout computation scales out
    by stream; at 100 TB the partition key is the corpus shard. All
    integer arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_toks")
    )
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    placed = sized.withColumn("tok_end", F.sum("n_toks").over(w))
    start = F.col("tok_end") - F.col("n_toks")
    return placed.select(
        "doc_id",
        "source",
        "n_toks",
        start.alias("tok_start"),
        F.expr(f"(tok_end - n_toks) div {PACK_BUDGET}").alias("first_seq"),
        F.expr(f"(tok_end - 1) div {PACK_BUDGET}").alias("last_seq"),
    )


@query(
    "dedup_exact_hashkey",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_exact_hashkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on ``xxhash64(text)`` instead of the text
    itself — the 100 TB spelling promised in dedup_exact's docstring:
    the dedup shuffle moves 16 bytes per row (hash, doc_id) instead of
    whole documents, and the keepers re-join the corpus by doc_id to
    recover their columns. Semantically identical to dedup_exact up to
    64-bit hash collisions (~n²/2⁶⁵ — absent at any test SF, and in
    production you'd add a length column to the key), so it shares
    dedup_exact's oracle."""
    d = fanned_documents(spark, sf_dir)
    keepers = (
        d.select(F.xxhash64("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return keepers.join(d, "doc_id").select("doc_id", "lang", "n_chars")
