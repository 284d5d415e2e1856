"""The shared word n-gram generators in functions/textexpr.py. The
operators riding them are oracle-checked end-to-end; these pin the two
short-document rules, which differ on purpose: exploded n-gram rows
drop a document shorter than n, while shingle arrays keep it as one
whole-document shingle."""

from __future__ import annotations

from pyspark.sql import Row, functions as F

from watermill_kinesis_spark.functions.textexpr import (
    word_ngram_rows,
    word_shingles,
)

DOCS = [
    Row(doc_id=1, text="a b c d e f g"),
    Row(doc_id=2, text="x y"),  # shorter than n=3
    Row(doc_id=3, text="p q p q p q"),  # repeated grams
]


def _rows(df) -> list[tuple]:
    return sorted((r.doc_id, r.gram) for r in df.collect())


def test_word_ngram_rows_slides_and_drops_short_documents(spark):
    df = spark.createDataFrame(DOCS)
    got = _rows(word_ngram_rows(df, 3))
    want = sorted(
        (d.doc_id, " ".join(t[i : i + 3]))
        for d in DOCS
        for t in [d.text.split(" ")]
        for i in range(len(t) - 2)
    )
    assert got == want
    assert not any(doc_id == 2 for doc_id, _ in got)
    # every occurrence is a row: the repeated grams are not collapsed
    assert sum(doc_id == 3 for doc_id, _ in got) == 4


def test_word_ngram_rows_stride_cuts_non_overlapping_blocks(spark):
    df = spark.createDataFrame(DOCS)
    got = _rows(word_ngram_rows(df, 3, step=3))
    # 7 tokens → blocks at 1 and 4; the 1-token tail is dropped
    assert got == [
        (1, "a b c"),
        (1, "d e f"),
        (3, "p q p"),
        (3, "q p q"),
    ]


def test_word_shingles_keeps_short_documents_whole(spark):
    df = spark.createDataFrame(DOCS).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    got = {
        r.doc_id: r.sh
        for r in df.select("doc_id", word_shingles("toks", 3).alias("sh")).collect()
    }
    assert got[1] == ["a b c", "b c d", "c d e", "d e f", "e f g"]
    assert got[2] == ["x y"]  # one whole-document shingle
    assert got[3] == ["p q p", "q p q"]  # distinct, first-occurrence order
