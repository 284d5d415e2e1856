"""Distributed BPE tokenizer training — the merge-learning loop every
LLM data stack runs before anything else tokenizes.

The classic trainer operates on the WORD-FREQUENCY VOCABULARY, not the
corpus: the corpus-scale work is one word-count aggregation (map-side
combinable), after which each merge iteration touches |vocab| rows
(bounded — ~10⁵ even for terabyte corpora). That separation is what
makes BPE training tractable at 100 TB, and it is exactly how this
module splits the work:

- ``word_vocab``: corpus → (word, freq), one shuffle.
- ``train_bpe_merges``: N iterations over the vocab DataFrame; each
  iteration is (1) adjacent-pair frequency aggregate, (2) a 1-row
  driver argmax (deterministic tie-break: highest freq, then
  lexicographically smallest pair), (3) greedy non-overlapping merge
  application — expressed as a pure ``F.aggregate`` fold over the
  symbol array, JVM-side, no Python in the loop. ``localCheckpoint``
  per iteration truncates the otherwise exponentially nesting lineage.

Merge semantics match the reference BPE formulation (Sennrich et al.,
"Neural Machine Translation of Rare Words with Subword Units", 2016):
single merge per iteration, greedy left-to-right non-overlapping
application. The registry entry is rows-only (an iterative argmax loop
is not SQL-expressible); tests pin the merge sequence EXACTLY against
an independent pure-Python trainer on the same vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

#: merge rounds for the registry entry (real tokenizers run 30k-100k;
#: the loop cost is iterations × one vocab-sized aggregate either way)
BPE_MERGES = 40
#: vocabulary cap: top-N words by (freq desc, word asc) — deterministic
BPE_VOCAB_CAP = 2000


def word_vocab(docs: DataFrame, cap: int = BPE_VOCAB_CAP) -> DataFrame:
    """corpus → deterministic word-frequency vocabulary
    ``(word, freq, symbols)`` with symbols = the word's characters."""
    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias("word")
    ).where(F.col("word") != "")
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word").asc())
        .limit(cap)
    )
    return vocab.select(
        "word", "freq", F.split("word", "").alias("symbols")
    )


def _apply_merge(vocab: DataFrame, left: str, right: str) -> DataFrame:
    """Greedy left-to-right non-overlapping application of one merge,
    as a pure SQL fold: walk the symbols, and whenever the running
    tail equals `left` and the next symbol is `right`, replace the
    tail with the merged token. JVM expressions only — the loop body
    never leaves codegen."""
    merged = F.expr(
        f"""
        aggregate(
            symbols,
            CAST(array() AS array<string>),
            (acc, s) -> CASE
                WHEN size(acc) > 0
                     AND element_at(acc, -1) = {_sq(left)}
                     AND s = {_sq(right)}
                THEN concat(slice(acc, 1, size(acc) - 1),
                            array({_sq(left + right)}))
                ELSE concat(acc, array(s)) END)
        """
    )
    return vocab.withColumn("symbols", merged)


def _sq(s: str) -> str:
    """SQL single-quoted literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def train_bpe_merges(
    docs: DataFrame, n_merges: int = BPE_MERGES, cap: int = BPE_VOCAB_CAP
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges; returns
    ``[(rank, left, right, pair_freq), ...]`` in learned order.

    Planned as a driver loop (guide §1.2 — fix the distributed
    algorithm first): the merge loop runs over the CAPPED
    word-frequency vocabulary, a ≤``cap``-row relation at ANY corpus
    size — a model artifact, not data. Iterating it on the cluster
    would cost 40 merges × (vocab-wide pair aggregate +
    TakeOrdered collect + a fold-expression rewrite + localCheckpoint)
    ≈ 80 scheduler round-trips per training run, all to transform 2000
    rows. Instead the corpus-scale work — the word-count aggregate — is
    the one distributed pass, the capped vocabulary is
    collected once (bounded by ``cap``, the kcenter/kmeans
    "big data, small model" contract), and the merge iterations run
    driver-local with IDENTICAL semantics: frequency-weighted
    adjacent-pair counts over every occurrence, argmax by
    (pair_freq desc, left asc, right asc), stop below pair_freq 2,
    greedy left-to-right non-overlapping application. The sequence is
    pinned exactly by tests/test_tokenizer.py's independent trainer.

    (The same round removed the cross-invocation ``_MERGES_MEMO``:
    memoizing training results across runs hid the loop's real cost
    from the bench — every invocation now trains from the parquet
    inputs.)"""
    vocab_rows = word_vocab(docs, cap).collect()
    vocab: list[tuple[int, list[str]]] = [
        (int(r.freq), list(r.symbols)) for r in vocab_rows
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for freq, syms in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (left, right), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < 2:
            break  # vocabulary exhausted: no pair worth merging
        merges.append((rank, left, right, pf))
        for idx, (freq, syms) in enumerate(vocab):
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            vocab[idx] = (freq, out)
    return merges


def _trained(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, str, int]]:
    """One training run per INVOCATION (no cross-run memo — results
    must always be recomputed from the parquet inputs)."""
    return train_bpe_merges(load_table(spark, sf_dir, "documents"))


@query("bpe_train_merges", tags=("text", "tokenizer", "llm-pipeline"))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merge table (rank → merged pair + its frequency
    at learn time) over the documents corpus. Rows-only: the iterative
    argmax loop is not SQL-expressible; the merge sequence is pinned
    exactly against an independent pure-Python trainer in
    tests/test_tokenizer.py, and ``bpe_pair_counts`` oracle-checks the
    per-iteration counting arithmetic."""
    merges = _trained(spark, sf_dir)
    return local_relation(spark, 
        merges, "rank int, left string, right string, pair_freq bigint"
    ).orderBy("rank")


def bpe_segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Encode one word with a learned merge table: repeatedly apply the
    LOWEST-RANK applicable merge (the standard BPE encode rule) until
    none applies."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


@query("bpe_apply_segment", tags=("text", "tokenizer", "llm-pipeline"))
def bpe_apply_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the learned merges: train on the corpus, broadcast
    the (tiny) merge table, and segment every token in an Arrow batch
    pass — the subword tokenization step itself. Emits the corpus
    subword-length histogram (how many tokens end up as 1, 2, 3…
    symbol pieces) — the statistic tokenizer teams watch to size a
    vocabulary. Rows-only: iterative lowest-rank merge application is
    not SQL-expressible; the encoder is pinned against the trainer's
    own apply-loop in tests/test_tokenizer.py."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    ranks = {
        (left, right): rank for rank, left, right, _ in _trained(spark, sf_dir)
    }
    b_ranks = spark.sparkContext.broadcast(ranks)

    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias("word")
    ).where(F.col("word") != "")

    def segment(batches):
        for pdf in batches:
            lens = [
                len(bpe_segment_word(w, b_ranks.value)) for w in pdf["word"]
            ]
            yield pd.DataFrame({"n_pieces": lens})

    pieces = words.mapInPandas(segment, "n_pieces int")
    return (
        pieces.groupBy("n_pieces")
        .agg(F.count(F.lit(1)).alias("n_tokens"))
        .orderBy("n_pieces")
    )


@query(
    "bpe_roundtrip_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_words,
           1 AS all_roundtrip,
           1 AS all_pieces_known
    FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
          FROM documents)
    WHERE w <> ''
    """,
    tags=("text", "tokenizer", "audit", "llm-pipeline"),
)
def bpe_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only BPE pair
    (``bpe_train_merges`` / ``bpe_apply_segment``): encodes EVERY
    corpus word with the learned merge table and verifies, in the
    same Arrow pass, the two defining encoder invariants — (a)
    LOSSLESSNESS: the concatenated subword pieces reproduce the word
    exactly (BPE only ever merges adjacent symbols, so any deviation
    means a corrupted merge application), and (b) CLOSED VOCABULARY:
    every emitted piece is either a single character or the product
    of a learned merge (the encoder cannot invent tokens). The oracle
    independently recomputes the exact corpus word count with the
    same whitespace tokenization, pinning that the encoder saw every
    word once; the merge table itself stays engine-internal (the
    iterative argmax is pinned against a pure-Python trainer in
    tests/test_tokenizer.py). One corpus scan + scalar aggregate."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    merges = _trained(spark, sf_dir)
    ranks = {(left, right): rank for rank, left, right, _ in merges}
    vocab_tokens = {left + right for _, left, right, _ in merges}
    b_model = spark.sparkContext.broadcast((ranks, vocab_tokens))

    words = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), "\\s+")).alias("word")
    ).where(F.col("word") != "")

    def verify(batches):
        rk, vt = b_model.value
        for pdf in batches:
            n = len(pdf)
            n_rt = 0
            n_known = 0
            for w in pdf["word"]:
                pieces = bpe_segment_word(w, rk)
                if "".join(pieces) == w:
                    n_rt += 1
                if all(len(p) == 1 or p in vt for p in pieces):
                    n_known += 1
            yield pd.DataFrame(
                {"n": [n], "n_rt": [n_rt], "n_known": [n_known]}
            )

    agg = words.mapInPandas(
        verify, "n long, n_rt long, n_known long"
    ).agg(
        F.sum("n").cast("bigint").alias("n_words"),
        F.sum("n_rt").cast("bigint").alias("n_rt"),
        F.sum("n_known").cast("bigint").alias("n_known"),
    )
    return agg.select(
        "n_words",
        (F.col("n_rt") == F.col("n_words")).cast("int").alias("all_roundtrip"),
        (F.col("n_known") == F.col("n_words")).cast("int").alias(
            "all_pieces_known"
        ),
    )
