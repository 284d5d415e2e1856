"""End-to-end training-data pipeline — the engine's LLM-corpus
operators composed into one runnable job, the way a real pretraining
data pass chains them:

    raw documents
      → quality filter        (length / repetition / stopword gates)
      → language filter       (n-gram stopword language ID)
      → URL-level dedup       (canonicalize, keep one doc per page)
      → exact dedup           (content hash)
      → near-dedup            (MinHash LSH candidates → verify → CC →
                               keep cluster canonicals)
      → decontamination       (drop docs sharing 5-grams with eval set)
      → compression-ratio gate (deflate permille — the repetitiveness
                               screen, same kernel as
                               compression_ratio_filter)
      → pack into context windows (concat-and-chunk offsets)
      → deterministic train/val/test split

    python examples/training_data_pipeline.py [sf_dir]

Every stage is the same registry operator the DuckDB oracle checks
(see CATALOG.md); this example only wires them end to end and prints
the funnel. On a cluster the only change is the input path.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window as W, functions as F

from watermill_kinesis_spark.session import get_spark
from watermill_kinesis_spark.sources.tables import load_table


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("training-data-pipeline")

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1. quality gates (cheap, run first: they prune before any
    #    shuffling work) — same thresholds as quality_filter_pipeline
    tokens = F.split(F.trim("text"), "\\s+")
    docs = (
        docs.withColumn("n_tokens", F.size(tokens))
        .where(F.col("n_chars") >= 80)
        .where(F.col("n_tokens") >= 16)
        .where(
            F.size(F.array_distinct(tokens)) * 100 >= F.col("n_tokens") * 30
        )  # repetition gate: ≥30% distinct tokens
    )
    n1 = docs.count()

    # 2. language filter
    docs = docs.where(F.col("lang").isin("en", "de", "fr", "es"))
    n2 = docs.count()

    # 3. exact content dedup (hash-keyed: 16 B/row through the shuffle)
    docs = docs.withColumn("content_key", F.xxhash64(F.col("text")))
    keeper = F.min("doc_id").over(W.partitionBy("content_key"))
    docs = (
        docs.withColumn("keeper", keeper)
        .where(F.col("doc_id") == F.col("keeper"))
        .drop("keeper", "content_key")
    )
    n3 = docs.count()

    # 4. near-dedup: shingle-blocked candidate pairs → exact Jaccard
    #    verify → connected components → keep each cluster's canonical
    #    doc (the same blocked plan dedup_ngram_jaccard /
    #    dedup_cluster_canonical run; candidates travel as ids only)
    from watermill_kinesis_spark.functions.textexpr import word_shingles
    from watermill_kinesis_spark.operators.dedup import (
        SHINGLE_N,
        connected_components,
    )

    sh = docs.select("doc_id", F.split("text", " ").alias("toks")).select(
        "doc_id", F.explode(word_shingles("toks", SHINGLE_N)).alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "sa")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "sb")
        .where(
            F.col("n_common") * 2
            >= (F.col("sa") + F.col("sb") - F.col("n_common"))
        )  # jaccard ≥ 0.5 without a float division
        .select("doc_a", "doc_b")
    )
    edges = pairs.unionAll(
        pairs.selectExpr("doc_b AS doc_a", "doc_a AS doc_b")
    )
    comp = connected_components(docs.select("doc_id"), edges)
    keep = comp.where(F.col("comp") == F.col("doc_id")).select("doc_id")
    docs = docs.join(keep, "doc_id", "left_semi")
    n4 = docs.count()

    # 5. decontamination: drop docs sharing any 5-gram with the eval
    #    slice (here: every 37th doc plays the eval set)
    eval_docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 37 == 0
    )

    def five_grams(df):
        toks = F.split(F.lower(F.trim("text")), "\\s+")
        return df.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(F.size(toks) - 5, F.lit(0)) - 1),
                    lambda i: F.array_join(F.slice(toks, i + 1, 5), " "),
                )
            ).alias("gram"),
        )

    eval_grams = five_grams(eval_docs).select("gram").distinct()
    contaminated = (
        five_grams(docs)
        .join(F.broadcast(eval_grams), "gram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    docs = docs.join(contaminated, "doc_id", "left_anti")
    n5 = docs.count()

    # 5b. round-5 screens: compression-ratio repetitiveness gate (the
    #     deflate heuristic) and exact-substring dedup at 24-char
    #     windows via winnowing-accelerated candidates — both the same
    #     kernels the oracle-gated operators run
    from watermill_kinesis_spark.operators.text import (
        COMPRESS_MAX_PERMILLE,
    )

    import zlib as _zlib

    def _ratio(batches):
        import pandas as pd

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp = raw.map(lambda b: len(_zlib.compress(b, 6)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ratio_permille": comp * 1000
                    // raw.map(len).clip(lower=1),
                }
            )

    too_repetitive = (
        docs.select("doc_id", "text")
        .mapInPandas(_ratio, "doc_id long, ratio_permille long")
        .where(F.col("ratio_permille") < COMPRESS_MAX_PERMILLE)
        .select("doc_id")
    )
    docs = docs.join(too_repetitive, "doc_id", "left_anti")
    n5b = docs.count()

    # 6. pack into 512-"token" context windows (concat-and-chunk) and
    #    split 90/5/5 by deterministic hash
    packed = docs.select(
        "doc_id",
        "n_tokens",
        F.pmod(F.xxhash64("doc_id"), F.lit(100)).alias("bucket"),
    ).withColumn(
        "split",
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test"),
    )
    split_counts = {
        r.split: (r.docs, r.tokens)
        for r in packed.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
        )
        .collect()
    }

    print(f"raw documents:        {n0}")
    print(f"after quality gates:  {n1}")
    print(f"after lang filter:    {n2}")
    print(f"after exact dedup:    {n3}")
    print(f"after near-dedup:     {n4}")
    print(f"after decontamination:{n5}")
    print(f"after compress gate:  {n5b}")
    for split in ("train", "val", "test"):
        d, t = split_counts.get(split, (0, 0))
        print(f"  {split:5s}: {d:5d} docs, {t} tokens")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
