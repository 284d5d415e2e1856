"""Shared JVM-side text expressions.

One home for the adjacent-bigram generator and the word n-gram
generators, so every operator that mines bigrams (collocation PMI, LM
count tables, Kneser–Ney continuation counts) or word n-grams
(decontamination, paragraph dedup, novelty, boilerplate shingles)
stays in lockstep on two load-bearing details:

- the short-document rule: a document with fewer tokens than the
  gram order yields a typed empty array (bigrams), no rows
  (:func:`word_ngram_rows`) or one whole-document shingle
  (:func:`word_shingles`) — never a lambda over a negative-length
  sequence;
- the lambda hoist rule (SCALE.md, "Higher-order-function lambdas
  re-evaluate inlined expressions"): Spark's interpreted higher-order
  functions re-evaluate an inlined ``split(text, ...)`` on EVERY
  ``element_at`` call, so the token array must be a materialized
  column before any lambda indexes into it. The column helpers
  therefore take the NAME of an array column, never a string
  expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def bigram_structs(arr_col: str) -> Column:
    """array<struct<x,y>> of adjacent (left, right) token pairs from
    the ALREADY-MATERIALIZED array column ``arr_col`` (hoist rule —
    pass a column name, not ``split(...)``)."""
    return F.when(
        F.size(arr_col) >= 2,
        F.expr(
            f"transform(sequence(0, size({arr_col}) - 2),"
            f" i -> struct(element_at({arr_col}, i + 1) AS x,"
            f" element_at({arr_col}, i + 2) AS y))"
        ),
    ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))


def word_ngram_rows(df: DataFrame, n: int, step: int = 1) -> DataFrame:
    """One ``(doc_id, gram)`` row per word n-gram of ``df``'s ``text``
    (tokens are ``split(text, ' ')``, rejoined by one space), starting
    every ``step`` tokens from the first; ``step=n`` cuts
    non-overlapping blocks and drops a short tail. A document with
    fewer than ``n`` tokens yields no rows. The oracle's shape is
    ``unnest(generate_series(1, len(toks) - n + 1, step))`` over
    ``list_slice``."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks") - n + 1, F.lit(0)), F.lit(step)
    )
    return (
        df.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= n)
        .select("doc_id", F.explode(starts).alias("i"), "toks")
        .select(
            "doc_id",
            F.array_join(F.slice("toks", F.col("i"), n), " ").alias("gram"),
        )
    )


def word_shingles(toks_col: str, n: int) -> Column:
    """array<string> of the DISTINCT word n-grams of the
    already-materialized token array ``toks_col`` (hoist rule — pass a
    column name, not ``split(...)``). A document with fewer than ``n``
    tokens yields ONE shingle, the whole document, so every document
    has at least one."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks_col) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks_col, i + 1, n), " ")
        )
    )
