"""BPE trainer: the distributed merge loop must learn EXACTLY the
sequence an independent pure-Python reference trainer learns on the
same vocabulary (same counting, same greedy application, same
deterministic tie-break)."""

from __future__ import annotations

from collections import Counter

from watermill_kinesis_spark.operators.tokenizer import (
    train_bpe_merges,
    word_vocab,
)


def _py_bpe(vocab: dict[str, int], n_merges: int):
    """Reference trainer: Sennrich-style, occurrence counting,
    greedy non-overlapping merge, tie-break (freq desc, left asc,
    right asc)."""
    words = {w: list(w) for w in vocab}
    merges = []
    for rank in range(n_merges):
        counts: Counter = Counter()
        for w, syms in words.items():
            f = vocab[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (left, right), pf = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pf < 2:
            break
        merges.append((rank, left, right, pf))
        for w, syms in words.items():
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            words[w] = out
    return merges


def test_bpe_merges_match_reference_trainer(spark, sf_dir):
    from watermill_kinesis_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    cap, n = 400, 25
    got = train_bpe_merges(docs, n_merges=n, cap=cap)

    vocab_rows = word_vocab(docs, cap).select("word", "freq").collect()
    vocab = {r.word: r.freq for r in vocab_rows}
    want = _py_bpe(vocab, n)
    assert got == want, f"first divergence: {next((a, b) for a, b in zip(got, want) if a != b)}"
    assert len(got) == n  # corpus is rich enough to learn all n


def test_bpe_greedy_nonoverlap_run_of_three(spark):
    """`aaa` under merge (a,a) must become [aa, a] — greedy
    left-to-right, non-overlapping — in the trainer exactly as in the
    reference formulation, so the second merge learned is (aa, a). A
    right-to-left or overlapping application would learn (a, aa)."""
    from pyspark.sql import Row

    from watermill_kinesis_spark.operators.tokenizer import train_bpe_merges

    docs = spark.createDataFrame([Row(doc_id=0, text="aaa aaa")])
    assert train_bpe_merges(docs) == [(0, "a", "a", 4), (1, "aa", "a", 2)]


def test_bpe_encode_agrees_with_sequential_merge_application():
    """Encoding by lowest-rank-first must reproduce the trainer's own
    state: applying merges 0..N-1 sequentially to a word gives the
    same segmentation as bpe_segment_word with the rank table."""
    from watermill_kinesis_spark.operators.tokenizer import bpe_segment_word

    merges = [("e", "r"), ("er", "s"), ("t", "h"), ("th", "e")]
    ranks = {p: i for i, p in enumerate(merges)}
    for word in ("ers", "there", "tethers", "zzz", "e", ""):
        syms = list(word)
        for left, right in merges:
            out = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = left + right
                else:
                    out.append(s)
            syms = out
        assert bpe_segment_word(word, ranks) == (syms if word else []), word
