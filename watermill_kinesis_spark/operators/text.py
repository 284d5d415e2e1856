"""Text-analysis operators over the ``documents`` table (north-star
LLM-pipeline layer; no analogue in the reference — its payloads are
opaque bytes, `marshaller.go:42-47`).

The domain: normalization, PII redaction and chunking (fixed and
strided); quality, language and boilerplate filters; TF-IDF and
feature hashing; n-gram language-model counts and smoothing
(stupid backoff, Kneser-Ney continuation, Good-Turing); collocations
(PMI, skip-gram co-occurrence); and the vocabulary profile — growth
curve, coverage, per-source overlap and drift, richness estimators
(Chao1, Simpson, Yule), dispersion and burstiness.

Almost everything here is JVM-side built-in functions (split /
higher-order array functions / regexp) — at 100 TB these run inside
whole-stage codegen, and tokenization happens exactly once per
expression tree; the one Arrow-batched Python kernel is the zlib
compression-ratio filter.

Cross-engine determinism: statistics are integer-derived (counts,
lengths) with at most one final int→double division, which is exact in
IEEE-754 on both engines, so oracle hashes are bit-stable; the few
transcendental scores (TF-IDF's ln) round to 6 decimals, since ln is
not correctly-rounded and Java Math.log and libm may differ in the
last ulp.
"""

from __future__ import annotations

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    Window as W,
    functions as F,
)

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.textexpr import bigram_structs, word_shingles
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import fanned_documents, load_table

#: tiny stopword list matching the synthetic corpus vocabulary
STOPWORDS = ("the", "a", "of", "and", "to")

#: polynomial rolling-hash parameters (Rabin–Karp); 257 > any byte,
#: modulus keeps acc*257+c < 2^48 — no bigint overflow in either engine
FP_BASE = 257
FP_MOD = 1_000_000_007


@query(
    "text_stats",
    oracle=f"""
    SELECT doc_id, lang,
           length(text) AS n_chars,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           CAST(CAST(length(replace(text, ' ', '')) AS BIGINT) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({list(STOPWORDS)}, t))) AS BIGINT)
               AS n_stopwords,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({list(STOPWORDS)}, t))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stopword_ratio
    FROM documents
    """,
    tags=("text", "llm-pipeline"),
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: char/token/distinct-token counts,
    mean token length, stopword ratio. The standard first-pass quality
    filter of an LLM data pipeline (cf. Gopher/C4 heuristics)."""
    d = fanned_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
                "bigint"
            ).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
        n_stop.cast("bigint").alias("n_stopwords"),
        (n_stop.cast("double") / F.size(toks)).alias("stopword_ratio"),
    )


@query(
    "token_count_regex",
    oracle=r"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT)
               AS total_tokens,
           CAST(MAX(len(regexp_extract_all(text, '\w+|[^\w\s]'))) AS BIGINT)
               AS max_tokens
    FROM documents
    GROUP BY source
    """,
    tags=("text", "llm-pipeline"),
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""BPE-ish token counting: `\w+|[^\w\s]` splits words from
    punctuation the way byte-pair pretokenizers do, aggregated per
    source. Regex runs JVM-side once per row."""
    d = fanned_documents(spark, sf_dir)
    n_tok = F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), F.lit(0)))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("bigint").alias("total_tokens"),
        F.max(n_tok).cast("bigint").alias("max_tokens"),
    )


@query(
    "lang_filter",
    oracle="""
    SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE lang IN ('en', 'fr')
    GROUP BY lang, source
    """,
    tags=("text", "llm-pipeline"),
)
def lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language allow-list filter + per-(lang, source) rollup — the
    partition-prunable corpus selection step."""
    d = fanned_documents(spark, sf_dir)
    return (
        d.where(F.col("lang").isin("en", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


@query(
    "lang_id_stopword",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> list_contains({list(STOPWORDS)}, t))) AS BIGINT)
               AS marker_hits,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     t -> list_contains({list(STOPWORDS)}, t))) >= 3
                THEN 'en' ELSE 'und' END AS predicted_lang
    FROM documents
    """,
    tags=("text", "llm-pipeline"),
)
def lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: count function-word markers, threshold to
    a prediction. (With real corpora the marker lists are per-language
    char n-grams; the mechanism — token match + threshold, one pass, no
    UDF — is the scale-relevant part.)"""
    d = fanned_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        "lang",
        hits.cast("bigint").alias("marker_hits"),
        F.when(hits >= 3, "en").otherwise("und").alias("predicted_lang"),
    )


@query(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           n_rules_passed,
           CAST(n_rules_passed = 5 AS INT) AS keep
    FROM (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(string_split(text, ' ')) BETWEEN 10 AND 2000 AS INT)
             + CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                        / len(string_split(text, ' ')) BETWEEN 2 AND 12 AS INT)
             + CAST(CAST(len(list_filter(string_split(text, ' '),
                                         t -> list_contains({list(STOPWORDS)}, t))) AS DOUBLE)
                        / len(string_split(text, ' ')) >= 0.01 AS INT)
             + CAST(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
                        / length(text) <= 0.2 AS INT)
             + CAST(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                        / length(text) <= 0.3 AS INT) AS n_rules_passed
        FROM documents)
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality gate: five heuristic rules
    (token count in range, mean token length in range, stopword ratio
    floor, symbol-character ratio cap, digit ratio cap), scored as the
    count of rules passed plus a keep/drop flag. All signals are
    integer counts with one exact int/int double division each, so the
    score is bit-stable across engines; regexes run JVM-side inside
    codegen — this is the shape of the first (and most selective) pass
    over a 100 TB crawl, and it's a pure narrow scan."""
    d = fanned_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    avg_tok = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens
    )
    sym_ratio = (
        F.length(F.regexp_replace("text", "[A-Za-z0-9 ]", "")).cast("double")
        / F.length("text")
    )
    digit_ratio = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    )
    rules = (
        n_tokens.between(10, 2000).cast("int")
        + avg_tok.between(2, 12).cast("int")
        + ((n_stop.cast("double") / n_tokens) >= 0.01).cast("int")
        + (sym_ratio <= 0.2).cast("int")
        + (digit_ratio <= 0.3).cast("int")
    )
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        rules.alias("n_rules_passed"),
        (rules == 5).cast("int").alias("keep"),
    )


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
               list_transform(range(1, length(text) + 1),
                              i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)),
               (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}) AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint", "llm-pipeline"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin–Karp polynomial fingerprint of the full document, computed
    with higher-order fold — an engine-independent content hash (unlike
    xxhash64/sha, the arithmetic is identical in any engine, so
    fingerprints can be joined across systems). DuckDB's ``list_reduce``
    seeds with the first element; a 0-seeded fold is identical because
    ``0*base + c0 = c0``."""
    d = fanned_documents(spark, sf_dir)
    chars = F.transform(
        F.split(F.col("text"), ""), lambda ch: F.ascii(ch).cast("bigint")
    )
    fp = F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )
    return d.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# vocabulary induction + coverage audit

#: induced vocabulary size (top tokens by corpus frequency, ties by
#: token text) — the word-level stand-in for a BPE vocab fit
VOCAB_SIZE = 400


@query(
    "vocab_induction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok ASC) AS r
            FROM toks GROUP BY tok)
        WHERE r <= {VOCAB_SIZE})
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT_IF(v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(COUNT_IF(v.tok IS NULL) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS oov_rate
    FROM toks t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
    tags=("text", "tokenizer", "llm-pipeline"),
)
def vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + coverage audit: fit a top-400 (VOCAB_SIZE)
    token vocabulary on the corpus (frequency-ranked, deterministic
    ties), then score every document's out-of-vocabulary rate — the
    released-tokenizer health check (rising OOV means the corpus
    drifted from the vocab's fit distribution). Two aggregates and a
    broadcast: token counts collapse corpus-scale data to |vocab|
    candidates via one map-side-combined shuffle; the vocab (a few KB)
    broadcasts back against the token stream, so the coverage pass adds
    no second corpus shuffle. OOV rate is an exact integer ratio."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    from pyspark.sql import Window as W

    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.withColumn(
            "r",
            F.row_number().over(
                W.partitionBy().orderBy(F.col("n").desc(), F.col("tok").asc())
            ),
        )
        .where(F.col("r") <= VOCAB_SIZE)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    oov = F.count_if(F.col("in_vocab").isNull())
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.alias("n_oov"),
        (oov.cast("double") / F.count(F.lit(1)).cast("double")).alias("oov_rate"),
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH pred AS (
        SELECT lang,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         t -> list_contains({list(STOPWORDS)}, t))) >= 3
                    THEN 'en' ELSE 'und' END AS predicted_lang
        FROM documents),
    cm AS (
        SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, predicted_lang)
    SELECT lang, predicted_lang, n,
           CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS n_labeled,
           CAST(SUM(n) OVER (PARTITION BY predicted_lang) AS BIGINT)
               AS n_predicted,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)
               AS recall_contrib,
           CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY predicted_lang) AS DOUBLE)
               AS precision_contrib
    FROM cm
    """,
    tags=("text", "evaluation", "llm-pipeline"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation confusion matrix for the lang-ID heuristic
    — the QA step every filtering model in a data pipeline needs before
    its predictions gate real documents: (label, prediction) counts
    with per-class marginals and the recall/precision contribution of
    each cell (diagonal cells ARE the per-class recall and precision).
    Exact integer counts; the two ratios are single divisions of exact
    integers with shared expression text. Plan: one corpus pass to
    |langs|² cells, then windows over that constant-size matrix — the
    eval is free at any corpus scale."""
    d = fanned_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    pred = d.select(
        "lang", F.when(hits >= 3, "en").otherwise("und").alias("predicted_lang")
    )
    cm = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    from pyspark.sql import Window as W

    w_label = W.partitionBy("lang")
    w_pred = W.partitionBy("predicted_lang")
    n_labeled = F.sum("n").over(w_label).cast("bigint")
    n_predicted = F.sum("n").over(w_pred).cast("bigint")
    return cm.select(
        "lang",
        "predicted_lang",
        "n",
        n_labeled.alias("n_labeled"),
        n_predicted.alias("n_predicted"),
        (F.col("n").cast("double") / n_labeled.cast("double")).alias(
            "recall_contrib"
        ),
        (F.col("n").cast("double") / n_predicted.cast("double")).alias(
            "precision_contrib"
        ),
    )


@query(
    "weblog_parse_agg",
    oracle="""
    SELECT split_part(event_type, '_', 1) AS section,
           CASE WHEN event_id % 97 = 0 THEN 500
                WHEN event_id % 7 = 0 THEN 404 ELSE 200 END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_requests,
           CAST(SUM(event_id % 1000 + 100) AS BIGINT) AS sum_bytes
    FROM events
    GROUP BY 1, 2
    """,
    tags=("text", "etl"),
)
def weblog_parse_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured log parsing — the classic ETL entry point: events are
    rendered into Apache combined-log lines (deterministic synthesis),
    then parsed BACK with one ``regexp_extract`` pattern per field and
    aggregated per (path section, status). The oracle computes the same
    aggregate straight from the source columns with no regex at all —
    so what is value-checked is that the render→parse round trip loses
    nothing and the parser fields line up exactly with ground truth.
    Pure JVM regex in whole-stage codegen: at 100 TB this is a scan,
    not a UDF job."""
    ev = load_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("10.0."),
        (F.col("user_id") % 256).cast("string"),
        F.lit("."),
        (F.col("event_id") % 256).cast("string"),
        F.lit(' - - [14/Aug/2026:00:00:00 +0000] "GET /'),
        F.regexp_replace("event_type", "_", "/"),
        F.lit("/"),
        F.col("event_id").cast("string"),
        F.lit(' HTTP/1.1" '),
        F.when(F.col("event_id") % 97 == 0, 500)
        .when(F.col("event_id") % 7 == 0, 404)
        .otherwise(200)
        .cast("string"),
        F.lit(" "),
        (F.col("event_id") % 1000 + 100).cast("string"),
    )
    logs = ev.select(line.alias("raw"))
    pat = r'^(\S+) \S+ \S+ \[[^\]]*\] "(\w+) ([^ "]+) [^"]*" (\d{3}) (\d+)$'
    parsed = logs.select(
        F.regexp_extract("raw", pat, 3).alias("path"),
        F.regexp_extract("raw", pat, 4).cast("int").alias("status"),
        F.regexp_extract("raw", pat, 5).cast("long").alias("nbytes"),
    )
    return (
        parsed.select(
            F.split_part(F.col("path"), F.lit("/"), F.lit(2)).alias("section"),
            "status",
            "nbytes",
        )
        .groupBy("section", "status")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("nbytes").cast("bigint").alias("sum_bytes"),
        )
    )


#: a 5-gram must recur in at least this many DISTINCT documents to
#: count as boilerplate
BOILERPLATE_MIN_DOCS = 3
BOILERPLATE_N = 5


@query(
    "boilerplate_ngrams",
    oracle=f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, gram FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, greatest(len(string_split(text, ' ')) - {BOILERPLATE_N}, 0) + 1),
                       i -> array_to_string(list_slice(string_split(text, ' '),
                                                       CAST(i + 1 AS INT),
                                                       CAST(i + {BOILERPLATE_N} AS INT)), ' ')
                   )) AS gram
            FROM documents))
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM sh GROUP BY gram
    HAVING COUNT(*) >= {BOILERPLATE_MIN_DOCS}
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection at SUB-DOCUMENT granularity — the cleaning
    pass that catches what document-level dedup can't: phrases
    repeated across otherwise-distinct pages (navigation chrome,
    cookie banners, signature lines). A word 5-gram appearing in ≥ 3
    DISTINCT documents joins the removal list. One explode + distinct
    + count — (gram, doc_id) pairs through the shuffle, never
    documents; at 100 TB the same plan keys on xxhash64(gram) to
    shrink shuffle bytes, with the string re-attached to survivors
    only."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    pairs = toks.select(
        "doc_id", F.explode(word_shingles("toks", BOILERPLATE_N)).alias("gram")
    )
    return (
        pairs.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
    )


#: compression-ratio gate: docs whose deflate ratio (permille) falls
#: below this are "too compressible" = highly repetitive (boilerplate,
#: generated spam) — the Gopher/CCNet-family quality heuristic
COMPRESS_LEVEL = 6
COMPRESS_MAX_PERMILLE = 350


@query("compression_ratio_filter", tags=("text", "quality", "llm-pipeline"))
def compression_ratio_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality screen: deflate each document (zlib
    level 6) and report compressed/raw size as integer permille — the
    repetitiveness signal the Gopher/CCNet-family pipelines gate on
    (natural prose lands ~400–600‰; templated boilerplate and
    generated spam compress far below). Rows-only: no SQL engine
    exposes deflate, so the oracle cannot replay it — instead
    tests/test_llm_ops.py pins the EXACT compressed lengths against a
    direct ``zlib.compress`` call outside Spark (deterministic for a
    fixed level within a zlib build), and the repetition_ratio oracle
    entry cross-checks the same ranking direction on its exact
    token-based signal. One Arrow pass, no shuffle; DEFLATE is
    ~100 MB/s/core — at 100 TB this kernel is the budget item and
    runs exactly once per doc."""
    import zlib

    import pandas as pd

    from collections.abc import Iterator

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def ratios(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            comp_len = raw.map(
                lambda b: len(zlib.compress(b, COMPRESS_LEVEL))
            )
            raw_len = raw.map(len)
            # empty doc ⇒ raw_len 0: int//0 would yield inf and the
            # int64 cast would kill the whole job on one empty row;
            # clamp the divisor — an empty doc reports its (tiny)
            # compressed size as the permille, far above the gate
            permille = comp_len * 1000 // raw_len.clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "raw_bytes": raw_len.astype("int64"),
                    "compressed_bytes": comp_len.astype("int64"),
                    "ratio_permille": permille.astype("int64"),
                    "too_repetitive": (
                        permille < COMPRESS_MAX_PERMILLE
                    ).astype("bool"),
                }
            )

    return d.mapInPandas(
        ratios,
        "doc_id long, raw_bytes long, compressed_bytes long, "
        "ratio_permille long, too_repetitive boolean",
    )


#: Stupid Backoff discount (Brants et al. 2007's alpha = 0.4, as the
#: exact rational 2/5 folded into the integer scoring below)
SB_BACKOFF_NUM = 400_000  # 0.4 in micro units


@query(
    "stupid_backoff_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS p FROM documents),
    bi_train AS (
        SELECT unnest(list_transform(range(1, len(p)),
                                     i -> p[i] || ' ' || p[i + 1])) AS bg
        FROM toks WHERE doc_id % 10 <> 0 AND len(p) >= 2),
    c12 AS (SELECT bg, COUNT(*) AS c12 FROM bi_train GROUP BY bg),
    uni_train AS (
        SELECT unnest(p) AS w FROM toks WHERE doc_id % 10 <> 0),
    c1 AS (SELECT w, COUNT(*) AS c1 FROM uni_train GROUP BY w),
    n_tot AS (SELECT COUNT(*) AS n FROM uni_train),
    held AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(p)),
                                     i -> p[i] || ' ' || p[i + 1])) AS bg
        FROM toks WHERE doc_id % 10 = 0 AND len(p) >= 2),
    scored AS (
        SELECT h.doc_id,
               CASE WHEN c12.c12 IS NOT NULL
                    THEN c12.c12 * 1000000
                         // cl.c1
                    ELSE COALESCE(cr.c1, 0) * {SB_BACKOFF_NUM}
                         // (SELECT n FROM n_tot)
               END AS score_micro
        FROM held h
        LEFT JOIN c12 ON c12.bg = h.bg
        LEFT JOIN c1 cl ON cl.w = split_part(h.bg, ' ', 1)
        LEFT JOIN c1 cr ON cr.w = split_part(h.bg, ' ', 2))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(score_micro) AS BIGINT) AS sum_score_micro,
           CAST(SUM(score_micro) // COUNT(*) AS BIGINT) AS avg_score_micro
    FROM scored GROUP BY doc_id
    """,
    tags=("text", "language-model", "llm-pipeline"),
)
def stupid_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff bigram scoring (Brants et al. 2007 — the web-scale
    count-based LM that skips normalization entirely because at corpus
    scale the counts themselves rank quality): held-out documents
    (doc_id ≡ 0 mod 10) are scored against the TRAIN slice's bigram and
    unigram counts — S(w₂|w₁) = c(w₁w₂)/c(w₁), backing off to
    0.4·c(w₂)/N for unseen bigrams (which genuinely occur, since the
    scorer never sees the held-out text). The integer-exact cousin of a
    KenLM perplexity gate: every score is one integer quotient in micro
    units, summed and averaged exactly. Scale shape: two count
    aggregates over the train corpus (map-side combinable), then
    count-table joins back to held-out bigrams — all three pinned
    ``shuffle_hash``: the bigram/vocab count tables are corpus-derived
    string dictionaries, the exact build-side class whose
    compressed-size estimate AQE under-sizes (the r9
    ngram_novelty_score broadcast OOM; plan_audit's DictBcast column
    now rejects a broadcastable dictionary join statically); the
    per-doc reduce is one more keyed aggregate."""
    d = load_table(spark, sf_dir, "documents")
    p = F.split(F.col("text"), " ")
    toks = d.select("doc_id", p.alias("p"), F.size(p).alias("np"))
    bigram_expr = F.expr(
        "transform(sequence(1, size(p) - 1),"
        " i -> concat(element_at(p, i), ' ', element_at(p, i + 1)))"
    )
    train = toks.where(F.col("doc_id") % 10 != 0)
    bi_train = train.where(F.col("np") >= 2).select(
        F.explode(bigram_expr).alias("bg")
    )
    c12 = bi_train.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    uni_train = train.select(F.explode("p").alias("w"))
    # materialize the vocab-sized count table — the result's own
    # checkpoint, which both count-table joins below reuse; the scalar
    # N is ITS sum, observed on the same job (not a second full
    # explode-and-count over the train corpus)
    n_obs = Observation("stupid_backoff_n")
    c1 = (
        uni_train.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
        .observe(n_obs, F.sum("c1").alias("n"))
        .localCheckpoint()
    )
    n_tot = int(n_obs.get["n"])
    held = (
        toks.where((F.col("doc_id") % 10 == 0) & (F.col("np") >= 2))
        .select("doc_id", F.explode(bigram_expr).alias("bg"))
        .withColumn("w1", F.split("bg", " ").getItem(0))
        .withColumn("w2", F.split("bg", " ").getItem(1))
    )
    cl = c1.select(F.col("w").alias("w1"), F.col("c1").alias("c_left"))
    cr = c1.select(F.col("w").alias("w2"), F.col("c1").alias("c_right"))
    score_expr = (
        "CASE WHEN c12 IS NOT NULL THEN (c12 * 1000000) div c_left"
        f" ELSE (COALESCE(c_right, 0) * {SB_BACKOFF_NUM}) div {n_tot}"
        " END AS score_micro"
    )
    scored = (
        held.join(c12.hint("shuffle_hash"), "bg", "left")
        .join(cl.hint("shuffle_hash"), "w1", "left")
        .join(cr.hint("shuffle_hash"), "w2", "left")
        .selectExpr("doc_id", score_expr)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("score_micro").cast("bigint").alias("sum_score_micro"),
        F.expr("CAST(SUM(score_micro) div COUNT(*) AS BIGINT)").alias(
            "avg_score_micro"
        ),
    )


@query(
    "template_skeleton_dedup",
    oracle="""
    WITH skel AS (
        SELECT doc_id,
               md5(regexp_replace(regexp_replace(text, '[0-9]+', '0', 'g'),
                                  ' +', ' ', 'g')) AS skeleton_hash
        FROM documents),
    grp AS (
        SELECT skeleton_hash, COUNT(*) AS n_sharing, MIN(doc_id) AS canon
        FROM skel GROUP BY skeleton_hash)
    SELECT s.doc_id, s.skeleton_hash,
           CAST(g.n_sharing AS BIGINT) AS n_sharing,
           CAST(g.canon AS BIGINT) AS canonical_id,
           CAST(g.n_sharing >= 2 AS INT) AS is_template_dup
    FROM skel s JOIN grp g USING (skeleton_hash)
    """,
    tags=("text", "dedup", "llm-pipeline"),
)
def template_skeleton_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template detection by skeleton hashing — the form-letter /
    generated-page screen exact dedup misses: numbers are collapsed to
    a placeholder and whitespace runs normalized, so documents that
    differ ONLY in ids, prices, dates-as-digits, or counters share a
    skeleton hash (the cheap structural cousin of the boilerplate
    n-gram miner; CommonCrawl pipelines run both). Every doc row
    carries its skeleton, group size, canonical id, and the dup flag —
    so the oracle pins the skeleton arithmetic on every document even
    on a corpus with no template twins (this synthetic one), and a
    templated crawl lights up ``is_template_dup`` with no plan change.
    One JVM regex pass per doc + a 16-byte-key shuffle — the same
    scale shape as ``dedup_exact_hashkey``; group size IS the signal,
    so skew equals output."""
    d = fanned_documents(spark, sf_dir)
    skeleton = F.md5(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit("[0-9]+"), F.lit("0")),
            F.lit(" +"),
            F.lit(" "),
        )
    )
    skel = d.select("doc_id", skeleton.alias("skeleton_hash"))
    grp = skel.groupBy("skeleton_hash").agg(
        F.count(F.lit(1)).alias("n_sharing"),
        F.min("doc_id").alias("canonical_id"),
    )
    return skel.join(grp, "skeleton_hash").select(
        "doc_id",
        "skeleton_hash",
        "n_sharing",
        "canonical_id",
        (F.col("n_sharing") >= 2).cast("int").alias("is_template_dup"),
    )


#: Gopher document-quality thresholds (Rae et al. 2021, appendix A1.1;
#: public MassiveText rules). The three line-structure rules (bullet /
#: ellipsis / duplicate lines) are N/A on this corpus — the synthetic
#: documents carry no newlines — and are intentionally omitted rather
#: than vacuously passed.
GOPHER_MIN_WORDS, GOPHER_MAX_WORDS = 50, 100_000
GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN = 3, 10
GOPHER_MAX_SYMBOL_RATIO_PCT = 10  # symbol-to-word ratio ≤ 0.1
GOPHER_MIN_ALPHA_WORD_PCT = 80  # ≥80% words contain a letter
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2  # distinct stopwords present


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(replace(text, ' ', '')) AS n_chars_nospace,
               (length(text) - length(replace(text, '#', '')))
                 + (length(text) - length(replace(text, '...', ''))) // 3
                 AS n_symbols,
               len(list_filter(string_split(text, ' '),
                               w -> regexp_matches(w, '[a-zA-Z]')))
                 AS n_alpha_words,
               len(list_intersect(list_distinct(string_split(text, ' ')),
                                  {list(GOPHER_STOPWORDS)}))
                 AS n_stopwords_present
        FROM documents)
    SELECT doc_id, n_words, n_chars_nospace,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AS INTEGER) AS r_word_count,
           CAST(n_chars_nospace BETWEEN {GOPHER_MIN_WORD_LEN} * n_words
                AND {GOPHER_MAX_WORD_LEN} * n_words AS INTEGER) AS r_word_len,
           CAST(100 * n_symbols <= {GOPHER_MAX_SYMBOL_RATIO_PCT} * n_words
                AS INTEGER) AS r_symbol_ratio,
           CAST(100 * n_alpha_words >= {GOPHER_MIN_ALPHA_WORD_PCT} * n_words
                AS INTEGER) AS r_alpha_words,
           CAST(n_stopwords_present >= {GOPHER_MIN_STOPWORDS} AS INTEGER)
                AS r_stopwords,
           CAST(n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND n_chars_nospace BETWEEN {GOPHER_MIN_WORD_LEN} * n_words
                    AND {GOPHER_MAX_WORD_LEN} * n_words
                AND 100 * n_symbols <= {GOPHER_MAX_SYMBOL_RATIO_PCT} * n_words
                AND 100 * n_alpha_words >= {GOPHER_MIN_ALPHA_WORD_PCT} * n_words
                AND n_stopwords_present >= {GOPHER_MIN_STOPWORDS}
                AS INTEGER) AS gopher_pass
    FROM t
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher/MassiveText document-quality rule set
    (word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word fraction, stopword presence) as one composite
    per-document verdict — the canonical pre-training quality gate
    that sits beside ``text_quality_score``'s scoring variant.

    Every rule is evaluated as an INTEGER comparison (e.g. mean word
    length in [3, 10] becomes ``3·n_words ≤ chars ≤ 10·n_words``) so
    the oracle hash carries no division at all. One codegen'd
    projection pass per document, zero shuffle, and the scan reads
    only (doc_id, text) — at 100 TB this is embarrassingly parallel
    map work, the cheapest possible plan shape."""
    d = fanned_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_words = F.size(toks)
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    n_symbols = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    ) + (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("..."))))
        / F.lit(3)
    ).cast("bigint")
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
    r_wc = n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_wl = n_chars.between(
        F.lit(GOPHER_MIN_WORD_LEN) * n_words, F.lit(GOPHER_MAX_WORD_LEN) * n_words
    )
    r_sym = (F.lit(100) * n_symbols) <= (
        F.lit(GOPHER_MAX_SYMBOL_RATIO_PCT) * n_words
    )
    r_alpha = (F.lit(100) * n_alpha) >= (
        F.lit(GOPHER_MIN_ALPHA_WORD_PCT) * n_words
    )
    r_stop = n_stop >= GOPHER_MIN_STOPWORDS
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars_nospace"),
        r_wc.cast("int").alias("r_word_count"),
        r_wl.cast("int").alias("r_word_len"),
        r_sym.cast("int").alias("r_symbol_ratio"),
        r_alpha.cast("int").alias("r_alpha_words"),
        r_stop.cast("int").alias("r_stopwords"),
        (r_wc & r_wl & r_sym & r_alpha & r_stop).cast("int").alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# corpus statistics / normalization


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
        SELECT d.doc_id, t.token
        FROM documents d, unnest(string_split(d.text, ' ')) AS t(token)
        WHERE d.doc_id < 200
    ),
    tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok)
    SELECT doc_id, token,
           ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
    FROM (
        SELECT tf.doc_id, tf.token, tf.tf, df.df, n.n_docs,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                            tf.token
               ) AS rn
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    WHERE rn <= 3
    """,
    tags=("pipeline", "text"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with per-document top-3 terms: explode→TF groupBy→DF
    groupBy→broadcast-join→window top-k. The document-frequency table
    is tiny relative to the corpus (vocabulary-sized) so it broadcasts;
    the corpus is exploded exactly ONCE: DF re-aggregates the (already
    vocabulary×docs-sized) TF table instead of the raw token stream,
    and n_docs counts the documents table directly (every doc has ≥1
    token — split() never returns an empty array). Scores are rounded
    to 6 dp because ln() is not correctly-rounded — Java and libm can
    differ in the final ulp."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.select(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(score.desc(), F.asc("token"))
    return (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_docs))  # 1-row scalar side: benign cross
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", F.round(score, 6).alias("score"))
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS norm_text,
           len(string_split(trim(regexp_replace(regexp_replace(lower(text),
                               '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens
    FROM documents
    WHERE doc_id < 500
    """,
    tags=("pipeline", "text"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase → strip non-alphanumeric
    → squeeze whitespace → trim. All JVM regexp built-ins (no Python),
    partition-local, zero shuffle — the pre-tokenization stage of every
    corpus build. (DuckDB needs the 'g' flag; Spark's regexp_replace
    is global by default.)"""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.size(F.split(norm, " ")).alias("n_tokens"),
    )


@query(
    "chunk_documents",
    oracle="""
    SELECT doc_id,
           s // 32 AS chunk_id,
           array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS chunk_text,
           len(list_slice(toks, s + 1, s + 32)) AS n_tokens
    FROM (
        SELECT doc_id, toks, unnest(generate_series(0, len(toks) - 1, 32)) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents WHERE doc_id < 300)
    )
    """,
    tags=("pipeline", "text"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into fixed 32-token
    chunks — the tokenize→window→pack stage of every LLM training-data
    build. Entirely JVM built-ins (sequence → posexplode → slice), no
    Python in the hot path; chunking is embarrassingly parallel
    (partition-local, zero shuffle), so it scales linearly to 100 TB."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(0), F.size(toks) - 1, F.lit(32))
    chunk = F.slice(F.col("toks"), F.col("s") + 1, 32)
    return (
        d.select("doc_id", toks.alias("toks"), F.posexplode(starts).alias("chunk_id", "s"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("bigint").alias("chunk_id"),
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\(\d{3}\) \d{3}-\d{4}"


@query(
    "pii_redact",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               text || ' contact ' || source || '.' || CAST(doc_id AS VARCHAR)
                    || '@example.com or (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS body
        FROM documents WHERE doc_id < 1000)
    SELECT doc_id,
           regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_PHONE_RE}', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(body, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(body, '{_PHONE_RE}')) AS n_phones
    FROM raw
    """,
    tags=("pipeline", "text", "pii", "llm-pipeline"),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the mandatory pre-training redaction pass:
    email- and phone-shaped spans are replaced with typed placeholder
    tokens and per-document redaction counts are emitted for audit.
    The testdata corpus contains no natural PII, so the query first
    plants a synthetic contact line per document (deterministic from
    doc_id) and then redacts it — the redaction logic itself is the
    operator under test. Everything is JVM regexp built-ins:
    partition-local, zero shuffle, linear scan at any scale. The
    patterns avoid backreferences/lookaround so the same regex runs
    identically on java.util.regex and RE2-family engines."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 1000)
    body = F.concat(
        F.col("text"),
        F.lit(" contact "),
        F.col("source"),
        F.lit("."),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or (555) 010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    raw = d.select("doc_id", body.alias("body"))
    return raw.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("body"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
        F.size(F.regexp_extract_all(F.col("body"), F.lit(_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(F.col("body"), F.lit(_PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


# ---------------------------------------------------------------------------
# collocation mining via the PMI rational

#: minimum bigram count to consider a collocation, and result size
PMI_MIN_COUNT = 20
PMI_TOP_N = 50

#: lift = p(xy) / (p(x)·p(y)) = c_xy·N / (c_x·c_y) — the PMI without
#: the log. log is monotone, so ranking by the rational IS ranking by
#: PMI, and the rational is one exact-integer division (ln's low bits
#: differ across libm implementations; exposing the rational keeps the
#: hash exact — same policy as bm25_components).
_PMI_LIFT = (
    "CAST(c_xy AS DOUBLE) * CAST(n_tokens AS DOUBLE)"
    " / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE))"
)


@query(
    "collocation_pmi",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (
        SELECT tok, COUNT(*) AS c FROM (SELECT unnest(w) AS tok FROM toks)
        GROUP BY tok),
    n_tok AS (SELECT SUM(c) AS n_tokens FROM uni),
    bi AS (
        SELECT w[i] AS x, w[i + 1] AS y, COUNT(*) AS c_xy
        FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {PMI_MIN_COUNT}),
    joined AS (
        SELECT bi.x, bi.y, bi.c_xy, ux.c AS c_x, uy.c AS c_y, n_tok.n_tokens
        FROM bi JOIN uni ux ON bi.x = ux.tok
                JOIN uni uy ON bi.y = uy.tok
                CROSS JOIN n_tok)
    SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
           CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y,
           {_PMI_LIFT} AS pmi_lift
    FROM joined
    ORDER BY pmi_lift DESC, x, y
    LIMIT {PMI_TOP_N}
    """,
    tags=("text", "ngram", "llm-pipeline"),
)
def collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: bigrams whose observed frequency most
    exceeds independence, ranked by the PMI rational c_xy·N/(c_x·c_y)
    (log-free — log is monotone so the ranking is PMI's ranking, and
    the rational is one exact division; ln would cost cross-engine
    bit drift). The phrase-mining primitive behind tokenizer merges
    and multi-word-expression detection. Plan: one corpus pass for
    unigram counts (map-side combined), one for bigram counts with a
    min-count prefilter BEFORE the joins, then two broadcast joins of
    the |candidates| rows against the unigram table and a TakeOrdered
    top-N — the corpus never shuffles twice."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ")
    uni = (
        d.select(F.explode(w).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tok = uni.agg(F.sum("c").alias("n_tokens"))
    # token array hoisted out of the lambda: interpreted HOFs re-split
    # per element access otherwise (SCALE.md)
    bi = (
        d.select(w.alias("wt"))
        .select(F.explode(bigram_structs("wt")).alias("b"))
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    ux = uni.select(F.col("tok").alias("x"), F.col("c").alias("c_x"))
    uy = uni.select(F.col("tok").alias("y"), F.col("c").alias("c_y"))
    # the unigram table is a CORPUS-DERIVED dictionary — never leave it
    # broadcastable (the ngram_novelty_score OOM class, SCALE.md:
    # serialized size can sit under the broadcast threshold while the
    # deserialized hash build blows the driver). shuffle_hash keeps
    # the join key-partitioned at every scale; the scalar n_tok cross
    # is the only broadcast left.
    joined = (
        bi.join(ux.hint("shuffle_hash"), "x")
        .join(uy.hint("shuffle_hash"), "y")
        .crossJoin(F.broadcast(n_tok))
    )
    return (
        joined.select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            F.expr(_PMI_LIFT).alias("pmi_lift"),
        )
        .orderBy(F.desc("pmi_lift"), F.asc("x"), F.asc("y"))
        .limit(PMI_TOP_N)
    )


# ---------------------------------------------------------------------------
# hashing-trick featurization census

#: feature-hash buckets (intentionally far below the vocabulary so
#: collisions are REAL and the census exercises them)
FEATHASH_BUCKETS = 16


@query(
    "feature_hashing_counts",
    oracle=f"""
    WITH occ AS (SELECT unnest(string_split(text, ' ')) AS tok
                 FROM documents WHERE text IS NOT NULL),
    b AS (
        SELECT tok,
               CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT)
                   % {FEATHASH_BUCKETS} AS bucket,
               COUNT(*) AS n
        FROM occ GROUP BY tok),
    agg AS (
        SELECT bucket, COUNT(*) AS n_types, SUM(n) AS n_tokens,
               MAX(n) AS max_type_tokens
        FROM b GROUP BY bucket)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(1000 * max_type_tokens // n_tokens AS BIGINT)
               AS dominant_share_permille
    FROM agg ORDER BY bucket
    """,
    tags=("pipeline", "text", "features", "llm-pipeline"),
)
def feature_hashing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009), censused: project
    the vocabulary onto {FEATHASH_BUCKETS} feature buckets with a
    deterministic md5-derived hash and report each bucket's load —
    distinct types, total token mass, and the dominant type's share.
    This is the fixed-width featurization large-scale linear models
    and ANN pre-filters use when the vocabulary is unbounded; the
    census is the collision diagnostic that decides bucket width.
    Buckets are deliberately far below the vocabulary so collisions
    are real and visible (dominant_share < 1000‰ ⟺ a genuine
    collision shares the bucket). Everything is exact integers; the
    hash is the shared md5 convention, identical on both engines.

    Plan: token explode → per-type aggregate (vocabulary-sized,
    map-side combined) → {FEATHASH_BUCKETS}-row aggregate. No joins,
    no windows over raw rows."""
    occ = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    b = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("n")).select(
        "tok",
        "n",
        (
            F.conv(F.substring(F.md5("tok"), 1, 6), 16, 10).cast("long")
            % FEATHASH_BUCKETS
        ).alias("bucket"),
    )
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("max_type_tokens"),
    )
    return agg.selectExpr(
        "CAST(bucket AS BIGINT) AS bucket",
        "CAST(n_types AS BIGINT) AS n_types",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(1000 * max_type_tokens div n_tokens AS BIGINT)"
        " AS dominant_share_permille",
    ).orderBy("bucket")


@query(
    "vocab_coverage_topk",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (
        SELECT token, COUNT(*) AS f FROM tok GROUP BY token),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, token) AS rn
        FROM freq),
    tot AS (
        SELECT SUM(f) AS total_tokens, COUNT(*) AS n_types FROM freq)
    SELECT k.k,
           CAST(t.n_types AS BIGINT) AS n_types,
           CAST(COALESCE(SUM(r.f) FILTER (r.rn <= k.k), 0) AS BIGINT)
               AS covered_tokens,
           CAST(t.total_tokens AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(r.f) FILTER (r.rn <= k.k), 0) * 1000
                // t.total_tokens AS BIGINT) AS coverage_permille
    FROM ranked r, tot t, (VALUES (10), (100), (1000)) AS k(k)
    GROUP BY k.k, t.n_types, t.total_tokens
    """,
    tags=("pipeline", "tokenizer", "llm-pipeline"),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-sizing question "what
    fraction of corpus tokens does a k-entry vocab cover" answered
    exactly for k ∈ {10, 100, 1000}: rank token types by (frequency
    desc, token asc) — a total order, so ties cannot flip between
    engines — and report covered/total as exact integer permille.
    One token-keyed reduce builds the frequency table; the ranking
    runs over TYPES (vocabulary-sized, millions at worst — not corpus
    rows), so the single-partition window is bounded regardless of
    corpus size; the k-expansion is a 3-row broadcast cross join."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(W.orderBy(F.col("f").desc(), F.col("token")))
        .alias("rn"),
    )
    tot = freq.agg(
        F.sum("f").alias("total_tokens"), F.count(F.lit(1)).alias("n_types")
    )
    ks = local_relation(d.sparkSession, [(10,), (100,), (1000,)], "k int")
    covered = F.coalesce(F.sum(F.when(F.col("rn") <= F.col("k"), F.col("f"))), F.lit(0))
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(covered.alias("covered_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "n_types",
            "covered_tokens",
            "total_tokens",
            F.expr("CAST(covered_tokens * 1000 div total_tokens AS BIGINT)")
            .alias("coverage_permille"),
        )
    )


#: fixed-window chunking geometry: window tokens / stride tokens
#: (overlap = CHUNK_W − CHUNK_S)
CHUNK_W = 50
CHUNK_S = 40


@query(
    "chunk_documents_stride",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
    chunks AS (
        SELECT doc_id,
               (i - 1) // {CHUNK_S} + 1 AS chunk_idx,
               i AS start_tok,
               len(list_slice(toks, i, i + {CHUNK_W - 1})) AS n_tok,
               md5(array_to_string(
                   list_slice(toks, i, i + {CHUNK_W - 1}), ' ')) AS chunk_md5
        FROM d, unnest(generate_series(1, GREATEST(len(toks), 1),
                                       {CHUNK_S})) AS t(i))
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(n_tok AS BIGINT) AS n_tok, chunk_md5
    FROM chunks
    """,
    tags=("pipeline", "text", "chunking", "llm-pipeline"),
)
def chunk_documents_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window overlapping chunker — the RAG/embedding-prep
    sibling of ``chunk_cdc_rolling`` (content-defined boundaries):
    50-token windows every 40 tokens (10-token overlap), each chunk
    addressed by (doc_id, chunk_idx, start_tok) and content-hashed for
    downstream chunk-level dedup and embedding cache keys. Trailing
    partial windows are KEPT (n_tok < 50) — dropping them loses
    document tails from the index, the classic chunker bug. Purely
    projective: ``sequence`` + ``slice`` + md5 in one codegen pass, no
    shuffle at all — at 100 TB the chunker is embarrassingly parallel
    map work whose output feeds the exact-dedup family (group by
    chunk_md5)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(CHUNK_S)
    )
    chunk = F.slice("toks", F.col("start_tok"), CHUNK_W)
    return (
        d.select("doc_id", F.explode(starts).alias("start_tok"), "toks")
        .select(
            "doc_id",
            F.expr(f"CAST((start_tok - 1) div {CHUNK_S} + 1 AS BIGINT)").alias(
                "chunk_idx"
            ),
            F.col("start_tok").cast("bigint").alias("start_tok"),
            F.size(chunk).cast("bigint").alias("n_tok"),
            F.md5(F.array_join(chunk, " ").cast("binary")).alias("chunk_md5"),
        )
    )


#: skip-gram context radius (word2vec's default-ish small window) and
#: reporting shape: pairs seen < SKIP_MIN_COUNT times are noise, top-N
#: keeps the answer driver-comparable at every SF
SKIP_W = 2
SKIP_MIN_COUNT = 3
SKIP_TOP_N = 200


@query(
    "skipgram_cooccurrence",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents
                  WHERE text IS NOT NULL),
    pos AS (SELECT w, unnest(generate_series(1, len(w))) AS i FROM toks),
    ctx AS (
        SELECT w, i,
               unnest(generate_series(GREATEST(1, i - {SKIP_W}),
                                      LEAST(len(w), i + {SKIP_W}))) AS j
        FROM pos),
    pairs AS (
        SELECT w[i] AS x, w[j] AS y, COUNT(*) AS c_pair
        FROM ctx WHERE j <> i
        GROUP BY 1, 2
        HAVING COUNT(*) >= {SKIP_MIN_COUNT})
    SELECT x, y, CAST(c_pair AS BIGINT) AS c_pair
    FROM pairs
    ORDER BY c_pair DESC, x, y
    LIMIT {SKIP_TOP_N}
    """,
    tags=("text", "ngram", "embedding", "llm-pipeline"),
)
def skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts within a ±2
    token window — the pair-extraction stage of word2vec/GloVe-style
    embedding training (Mikolov et al. 2013) and the wide-window
    sibling of ``collocation_pmi`` (adjacent bigrams only). Pairs are
    ORDERED (center, context), so counts are symmetric; a min-count
    prefilter runs BEFORE any ranking and the report is a
    deterministic top-N (total order: count desc, then pair text).

    Plan: the token array is materialized ONCE per row (a first cut
    inlined ``split(text, ' ')`` inside the nested lambdas and Spark's
    interpreted higher-order functions re-split the document for every
    (position, offset) element access — O(tokens·window) re-splits,
    measured 107 s → 14 s at the sf1 replica from this hoist), then
    context pairs are generated with nested ``transform`` lambdas
    (~2W pairs/token), then ONE map-side combined groupBy on (x, y)
    and a TakeOrdered top-N. No join anywhere; at 100 TB the single
    shuffle carries only the distinct pair counts (vocabulary²,
    min-count-filtered), never the corpus.
    """
    # repartition BEFORE the pair generation:
    # the nested-transform pair mining otherwise runs inside the
    # single-split scan task (profiled 5.1 s serial at sf0.1); the
    # exchange moves raw text bytes, far less than the ~2W× pair rows
    # it would otherwise take to distribute the work. Geometry-derived
    # count: a flat core-count fan-out over-fans small inputs (an 8-core
    # run beat a 32-core run, ratio 0.73). expand=14 centers
    # the measured partition-sweep optimum (tools/tune_fanout.py,
    # best-of-4 at sf0.1: 8→0.309 s, 16→0.265, 32→0.365; see
    # OPTIMIZATION_r14.md) while the ∝-input-bytes scaling keeps a
    # real corpus at full cluster parallelism via the clamp
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .repartition(
            adaptive_partitions(spark, sf_dir, "documents", expand=14),
            "doc_id",
        )
    )
    pairs = F.expr(
        f"""
        flatten(transform(
            sequence(1, size(w)),
            i -> transform(
                filter(sequence(greatest(1, i - {SKIP_W}),
                                least(size(w), i + {SKIP_W})),
                       j -> j != i),
                j -> struct(element_at(w, i) AS x,
                            element_at(w, j) AS y))))
        """
    )
    return (
        d.select(F.split("text", " ").alias("w"))
        .select(F.explode(pairs).alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c_pair"))
        .where(F.col("c_pair") >= SKIP_MIN_COUNT)
        .orderBy(F.desc("c_pair"), F.asc("x"), F.asc("y"))
        .limit(SKIP_TOP_N)
    )


#: report width for the Kneser–Ney continuation table
KN_TOP_N = 100


@query(
    "kneser_ney_continuation",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents
                  WHERE text IS NOT NULL),
    idx AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks),
    bi AS (SELECT DISTINCT w[i] AS x, w[i + 1] AS y FROM idx),
    uni AS (SELECT tok, COUNT(*) AS c
            FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY 1),
    lc AS (SELECT y AS tok, COUNT(*) AS nl FROM bi GROUP BY 1),
    rc AS (SELECT x AS tok, COUNT(*) AS nr FROM bi GROUP BY 1),
    t AS (SELECT COUNT(*) AS bt FROM bi)
    SELECT u.tok, CAST(u.c AS BIGINT) AS c_tok,
           CAST(COALESCE(lc.nl, 0) AS BIGINT) AS n_left_contexts,
           CAST(COALESCE(rc.nr, 0) AS BIGINT) AS n_right_contexts,
           CAST(CAST(1000 * COALESCE(lc.nl, 0) AS BIGINT) // t.bt AS BIGINT)
               AS cont_permille
    FROM uni u LEFT JOIN lc USING (tok) LEFT JOIN rc USING (tok)
    CROSS JOIN t
    ORDER BY n_left_contexts DESC, tok
    LIMIT {KN_TOP_N}
    """,
    tags=("text", "ngram", "llm-pipeline"),
)
def kneser_ney_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser–Ney continuation-count table (Kneser & Ney 1995; Chen &
    Goodman 1999): for each word, how many DISTINCT left contexts it
    follows (N1+(·w) — the numerator of the KN lower-order
    distribution P_cont(w) = N1+(·w)/|bigram types|) and how many
    distinct right contexts it opens (N1+(w·), the backoff-weight
    count). These are TYPE counts, not token counts — the quantity
    that makes KN the strongest count-based smoother ("Francisco" is
    frequent but follows only "San", so its continuation probability
    is tiny) — complementing ``ngram_lm_counts`` (token counts) and
    ``stupid_backoff_score`` (score-based backoff). cont_permille is
    exact integer division on both engines.

    Plan: one pass builds DISTINCT bigram types (map-side combined
    distinct on the hoisted token array — lambda-CSE rule, SCALE.md
    round-9 wave 2); each type row then explodes into a ('L', right
    word) and an ('R', left word) role row so left/right context
    counts come out of ONE vocab-keyed aggregation — a first cut
    grouped the types relation twice (by x, by y) and column pruning
    specialized each branch's exchange (one carries only x, the other
    only y), defeating ReusedExchange and re-running the corpus
    distinct per branch. The scalar type count is Σ n_left (each type
    contributes exactly one L row) — Catalyst collapses that
    agg-over-agg into a direct global count, so the scalar leg still
    re-evaluates the types lineage once (the same accepted scalar
    crossJoin shape as ``collocation_pmi``'s n_tokens; a production
    pipeline reusing the table would persist ``types``). TakeOrdered
    top-N with a total order. Net: the raw corpus is scanned three
    times (unigram counts, bigram types, type count) — down from four
    in the two-groupBy form; everything downstream is
    vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select(F.split("text", " ").alias("w"))
    uni = (
        toks.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    )
    types = (
        toks.select(F.explode(bigram_structs("w")).alias("b"))
        .select("b.x", "b.y")
        .distinct()
    )
    roles = types.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("L").alias("role"), F.col("y").alias("tok")
                ),
                F.struct(
                    F.lit("R").alias("role"), F.col("x").alias("tok")
                ),
            )
        ).alias("r")
    ).select("r.role", "r.tok")
    counts = roles.groupBy("tok").agg(
        F.count_if(F.col("role") == "L").alias("nl"),
        F.count_if(F.col("role") == "R").alias("nr"),
    )
    bt = counts.agg(F.sum("nl").alias("bt"))
    # both join sides are corpus-derived vocab tables — pin the join
    # key-partitioned (the ngram_novelty_score OOM class; a mid-scale
    # corpus can sit under the broadcast threshold serialized while
    # the dictionary hash build blows the driver)
    return (
        uni.join(counts.hint("shuffle_hash"), "tok", "left")
        .crossJoin(F.broadcast(bt))
        .select(
            "tok",
            F.col("c_tok").cast("bigint").alias("c_tok"),
            F.coalesce("nl", F.lit(0)).cast("bigint").alias("n_left_contexts"),
            F.coalesce("nr", F.lit(0)).cast("bigint").alias("n_right_contexts"),
            F.expr(
                "CAST(1000 * COALESCE(nl, 0) AS BIGINT) div bt"
            )
            .cast("bigint")
            .alias("cont_permille"),
        )
        .orderBy(F.desc("n_left_contexts"), F.asc("tok"))
        .limit(KN_TOP_N)
    )


@query(
    "vocab_jaccard_sources",
    oracle="""
    WITH st AS (
        SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
    sz AS (SELECT source, COUNT(*) AS v FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2)
    SELECT i.src_a, i.src_b,
           CAST(sa.v AS BIGINT) AS v_a, CAST(sb.v AS BIGINT) AS v_b,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(CAST(1000 * i.n_common AS BIGINT)
                // CAST(sa.v + sb.v - i.n_common AS BIGINT) AS BIGINT)
               AS jaccard_permille
    FROM inter i JOIN sz sa ON i.src_a = sa.source
                 JOIN sz sb ON i.src_b = sb.source
    """,
    tags=("text", "dedup", "corpus-mix", "llm-pipeline"),
)
def vocab_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard overlap between sources — the
    corpus-mixing diagnostic behind domain-weight decisions
    (``domain_mix_weights`` sets sampling ratios by SIZE; this
    measures REDUNDANCY: two sources sharing 90% of their vocabulary
    contribute far less diversity than their row counts suggest).
    Exact integer permille over distinct-token sets.

    Plan: ONE distinct over (source, token) — the only corpus-wide
    shuffle — then a vocab-sized self-equi-join on token produces
    pair intersections (both sides are the same exchange, reused;
    |sources| is small so each token contributes ≤ |sources|² pair
    rows), a map-side-combined pair count, and two joins against the
    |sources|-row size table. At 100 TB work scales with distinct
    (source, token) pairs, never raw rows; skewed stop-tokens expand
    to at most C(|sources|, 2) rows each."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    st = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    sz = st.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a, b = st.alias("a"), st.alias("b")
    # the self-join sides are the corpus-derived (source, token) set —
    # pin shuffle_hash so no scale ever elects to broadcast a
    # dictionary (the ngram_novelty_score OOM class)
    inter = (
        a.join(b.hint("shuffle_hash"), "tok")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("v").alias("v_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("v").alias("v_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("v_a").cast("bigint").alias("v_a"),
            F.col("v_b").cast("bigint").alias("v_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.expr(
                "CAST(1000 * n_common AS BIGINT)"
                " div CAST(v_a + v_b - n_common AS BIGINT)"
            )
            .cast("bigint")
            .alias("jaccard_permille"),
        )
    )


@query(
    "chao1_vocab_richness",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
    c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    a AS (
        SELECT source,
               COUNT(*) AS k,
               COUNT_IF(c = 1) AS f1,
               COUNT_IF(c = 2) AS f2
        FROM c GROUP BY source)
    SELECT source, CAST(k AS BIGINT) AS n_types,
           CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
           CAST(1000 * k + CAST(1000 * f1 * (f1 - 1) AS BIGINT)
                           // CAST(2 * (f2 + 1) AS BIGINT)
                AS BIGINT) AS chao1_x1000
    FROM a
    """,
    tags=("text", "stats", "corpus-mix", "llm-pipeline"),
)
def chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-vocabulary estimate per source (Chao 1984,
    bias-corrected form): observed types k plus f1(f1−1)/(2(f2+1)),
    where f1/f2 are singleton/doubleton type counts — "how much
    vocabulary has this source NOT shown us yet", the coverage
    diagnostic behind corpus-mix and crawl-more decisions. The
    bias-corrected denominator (f2+1) is used precisely because it
    stays defined at f2 = 0, so no degenerate-division guard is
    needed. Reported ×1000 via exact integer division — both engines
    truncate toward zero on non-negative operands. Bigint bound: the
    numerator 1000·f1·(f1−1) stays inside int64 while a source's
    singleton-type count f1 ≲ 9.6·10⁷ (√(2⁶³/1000); larger than any
    plausible per-source vocabulary — past it, lift to
    decimal(38,0) ↔ HUGEINT, the t_closeness_audit convention).

    Plan: one map-side-combined groupBy (source, token) — the only
    corpus-wide shuffle — then a |sources×types|→|sources| aggregation
    carrying three conditional counts. At 100 TB work scales with
    distinct (source, token), never raw rows."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = c.groupBy("source").agg(
        F.count(F.lit(1)).alias("k"),
        F.count_if(F.col("c") == 1).alias("f1"),
        F.count_if(F.col("c") == 2).alias("f2"),
    )
    return a.select(
        "source",
        F.col("k").cast("bigint").alias("n_types"),
        F.col("f1").cast("bigint").alias("f1"),
        F.col("f2").cast("bigint").alias("f2"),
        (
            F.lit(1000) * F.col("k")
            + F.expr(
                "CAST(1000 * f1 * (f1 - 1) AS BIGINT)"
                " div CAST(2 * (f2 + 1) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("chao1_x1000"),
    )


#: Good-Turing: only the lowest observed frequencies are re-estimated
#: (high-r counts are reliable as-is and N_{r+1} gets sparse) — an
#: ADAPTIVE cutoff (the 10 smallest observed r), not a fixed r ≤ 10,
#: so the table is non-vacuous on any corpus's count distribution
GT_N_ROWS = 10


@query(
    "good_turing_discounts",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents
                  WHERE text IS NOT NULL),
    idx AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks),
    c AS (SELECT w[i] || ' ' || w[i + 1] AS b, COUNT(*) AS c
          FROM idx GROUP BY 1),
    fof AS (SELECT c AS r, COUNT(*) AS nr FROM c GROUP BY c),
    low AS (SELECT r, nr FROM fof ORDER BY r LIMIT {GT_N_ROWS})
    SELECT a.r, CAST(a.nr AS BIGINT) AS n_r,
           CAST(COALESCE(b.nr, 0) AS BIGINT) AS n_r1,
           CAST(CAST(1000 * (a.r + 1) * COALESCE(b.nr, 0) AS BIGINT)
                // CAST(a.nr AS BIGINT) AS BIGINT) AS r_star_x1000
    FROM low a LEFT JOIN fof b ON b.r = a.r + 1
    ORDER BY a.r
    """,
    tags=("text", "ngram", "stats", "llm-pipeline"),
)
def good_turing_discounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing adjusted counts for low-frequency BIGRAMS (Good
    1953): r* = (r+1)·N_{r+1}/N_r over the frequency-of-frequencies
    table — the discounting scheme under Katz backoff and the classic
    unseen-mass estimate (r = 1's mass N₁/N). Bigrams, not unigrams:
    GT lives where singletons live, and the synthetic corpus (like any
    real one) has its low-count tail at the n-gram level, not in the
    unigram vocabulary (whose minimum count here is ≥ 26 — a unigram
    formulation returns an empty, vacuously-passing table). Reported
    ×1000 via exact integer division; rows limited to the 10 SMALLEST
    observed frequencies (higher counts are reliable undiscounted —
    the standard cutoff, made adaptive so the table stays non-vacuous
    on corpora whose minimum n-gram count exceeds a fixed r). Together
    with ``kneser_ney_continuation`` and ``chao1_vocab_richness`` this
    completes the count-based smoothing toolkit.

    Plan: bigram counts (hoisted-array transform + one corpus
    shuffle), count-of-counts (a |bigram types|→|distinct counts|
    aggregation), then a SELF-join of the tiny fof relation on r+1 —
    deliberately a join, not a lead()-window, because the window form
    needs a single-partition exchange (fof has no partition key) while
    the join broadcasts a KB-sized relation. N_r > 0 by construction
    (it's a GROUP BY key count), so the division never sees zero."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c = (
        d.select(F.split("text", " ").alias("w"))
        .select(F.explode(bigram_structs("w")).alias("b"))
        .select(F.concat("b.x", F.lit(" "), "b.y").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = c.groupBy(F.col("c").alias("r")).agg(F.count(F.lit(1)).alias("nr"))
    a = fof.orderBy("r").limit(GT_N_ROWS).alias("a")
    b = fof.select((F.col("r") - 1).alias("r"), F.col("nr").alias("nr1"))
    # no explicit broadcast of b: fof is corpus-derived (≈ O(√tokens)
    # distinct frequencies — ~70 MB serialized at 100 TB) and forcing
    # it to broadcast is the ngram_novelty_score OOM class; side a is
    # exactly 10 rows, so AQE builds on the provably tiny side
    return (
        a.join(b, "r", "left")
        .select(
            "r",
            F.col("nr").cast("bigint").alias("n_r"),
            F.coalesce("nr1", F.lit(0)).cast("bigint").alias("n_r1"),
            F.expr(
                "CAST(1000 * (r + 1) * COALESCE(nr1, 0) AS BIGINT)"
                " div CAST(nr AS BIGINT)"
            )
            .cast("bigint")
            .alias("r_star_x1000"),
        )
        .orderBy("r")
    )


#: dispersion report width (top tokens by corpus count)
DISP_TOP_N = 50


@query(
    "token_dispersion_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents
           WHERE text IS NOT NULL),
    pd AS (SELECT tok, doc_id, COUNT(*) AS x FROM toks GROUP BY 1, 2),
    agg AS (SELECT tok, SUM(x) AS s1, SUM(x * x) AS s2, COUNT(*) AS df
            FROM pd GROUP BY tok),
    ps AS (SELECT tok, source, COUNT(*) AS t FROM toks GROUP BY 1, 2),
    w AS (SELECT source, SUM(len(string_split(text, ' '))) AS w
          FROM documents WHERE text IS NOT NULL GROUP BY source),
    wt AS (SELECT SUM(w) AS wtot FROM w),
    dp AS (
        SELECT ps.tok,
               SUM(ABS(ps.t * wt.wtot - w.w * agg.s1) - w.w * agg.s1)
                   + MAX(agg.s1) * MAX(wt.wtot) AS dpnum
        FROM ps JOIN w USING (source)
                JOIN agg ON ps.tok = agg.tok
                CROSS JOIN wt
        GROUP BY ps.tok)
    SELECT agg.tok, CAST(agg.s1 AS BIGINT) AS c_tok,
           CAST(agg.df AS BIGINT) AS df,
           CAST(CAST(1000 * (nd.n * agg.s2 - agg.s1 * agg.s1) AS BIGINT)
                // CAST(nd.n * agg.s1 AS BIGINT) AS BIGINT) AS fano_x1000,
           CAST(CAST(1000 * dp.dpnum AS BIGINT)
                // CAST(2 * agg.s1 * wt.wtot AS BIGINT) AS BIGINT)
               AS dp_x1000
    FROM agg JOIN dp USING (tok) CROSS JOIN nd CROSS JOIN wt
    ORDER BY c_tok DESC, tok
    LIMIT {DISP_TOP_N}
    """,
    tags=("text", "stats", "corpus-mix", "llm-pipeline"),
)
def token_dispersion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token dispersion diagnostics for the top corpus tokens — the
    two corpus-linguistics standards behind burstiness-aware term
    weighting and domain-balance checks, both EXACT rationals:

    - **Fano factor** (variance/mean of per-document counts, zeros
      included): 1000 ⇒ Poisson-like function word; ≫1000 ⇒ bursty
      content word. fano_x1000 = 1000·(N·Σx² − (Σx)²) div (N·Σx);
      the numerator is ≥ 0 by Cauchy–Schwarz, so trunc and floor
      agree cross-engine.
    - **Gries' Deviation of Proportions** (DP, 2008): ½·Σ_sources
      |token share − source size share| — 0 = spread like the corpus,
      →1 = concentrated in one source. The same
      absent-part closed-form fold as ``t_closeness_audit``: sources
      where the token never occurs contribute w_i·s1, folded as
      s1·W − Σ_present w_i·s1, so only present (token, source) rows
      materialize. Bigint bounds: the DP side's largest product is
      1000·dpnum ≤ 2000·s1·W, int64-safe while s1·W ≲ 4.6·10¹⁵
      (a corpus-dominant token caps the whole corpus at ~6.8·10⁷
      tokens; a typical top token at s1 ≈ W/100 stretches that to
      ~6.8·10⁸); the Fano side's 1000·n·s2 needs n·s2 ≲ 9.2·10¹⁵.
      The top-N rows are exactly the largest-s1 tokens — the first to
      overflow — so past these envelopes lift BOTH numerators to
      decimal(38,0) ↔ HUGEINT (the t_closeness_audit convention).

    Plan: two corpus explodes (per-(token, doc) and per-(token,
    source) counts genuinely need different granularities) plus two
    explode-FREE document-frame aggregations: per-source token totals
    via ``sum(size(split(...)))`` and the document count via a
    pre-explode distinct — a doc with non-null text always yields ≥ 1
    token, so both values are identical to their exploded forms at a
    fraction of the row volume. Downstream it's vocab-sized:
    the DP fold's s1 comes from a per-token window over ps itself
    (≤ |sources| rows per partition), then one token-keyed join —
    pinned ``shuffle_hash``: both sides are vocab-sized string
    dictionaries and the top-N limit sits ABOVE the join, so nothing
    bounds the build side AQE would otherwise broadcast (the r9
    ngram_novelty_score class; plan_audit's DictBcast guard) — and
    two broadcast scalars, TakeOrdered top-N with a total order."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    nd = d.agg(F.countDistinct("doc_id").alias("n"))
    pd_ = toks.groupBy("tok", "doc_id").agg(F.count(F.lit(1)).alias("x"))
    agg = pd_.groupBy("tok").agg(
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
        F.count(F.lit(1)).alias("df"),
    )
    ps = toks.groupBy("tok", "source").agg(F.count(F.lit(1)).alias("t"))
    # per-source token totals need NO explode: size(split(...)) per doc
    # aggregates to the same value, so the (twice-consumed) w lineage
    # is a cheap row-wise scan instead of a third corpus explode
    w = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("w")
    )
    wt = w.agg(F.sum("w").alias("wtot"))
    # s1 for the DP fold comes from ps ITSELF (a per-token window over
    # ≤ |sources| pre-aggregated rows) — a first cut joined the agg
    # relation here, and since that branch pruned agg to (tok, s1)
    # while the final join needs all of it, the pruned exchanges
    # differed and Spark re-evaluated the per-(token, doc) corpus
    # aggregation twice (the column-pruning-defeats-ReusedExchange
    # class; see kneser_ney_continuation)
    s1w = F.sum("t").over(W.partitionBy("tok"))
    dp = (
        ps.join(F.broadcast(w), "source")
        .crossJoin(F.broadcast(wt))
        .select("tok", "t", "w", "wtot", s1w.alias("s1"))
        .groupBy("tok")
        .agg(
            (
                F.sum(
                    F.abs(F.col("t") * F.col("wtot") - F.col("w") * F.col("s1"))
                    - F.col("w") * F.col("s1")
                )
                + F.max("s1") * F.max("wtot")
            ).alias("dpnum")
        )
    )
    return (
        agg.join(dp.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(wt))
        .select(
            "tok",
            F.col("s1").cast("bigint").alias("c_tok"),
            F.col("df").cast("bigint").alias("df"),
            F.expr(
                "CAST(1000 * (n * s2 - s1 * s1) AS BIGINT)"
                " div CAST(n * s1 AS BIGINT)"
            )
            .cast("bigint")
            .alias("fano_x1000"),
            F.expr(
                "CAST(1000 * dpnum AS BIGINT)"
                " div CAST(2 * s1 * wtot AS BIGINT)"
            )
            .cast("bigint")
            .alias("dp_x1000"),
        )
        .orderBy(F.desc("c_tok"), F.asc("tok"))
        .limit(DISP_TOP_N)
    )


@query(
    "simpson_diversity_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    a AS (
        SELECT doc_id, SUM(c) AS n, COUNT(*) AS k,
               SUM(c * (c - 1)) AS rep
        FROM c GROUP BY doc_id)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tok, CAST(k AS BIGINT) AS n_types,
           CAST(1000 - CAST(1000 * rep AS BIGINT) // CAST(n * (n - 1) AS BIGINT)
                AS BIGINT) AS simpson_permille
    FROM a WHERE n >= 2
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def simpson_diversity_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: the unbiased Gini–Simpson index
    1 − Σc(c−1)/(n(n−1)) over token counts, reported as an EXACT
    integer permille (1000 = all tokens distinct, 0 = one token
    repeated) — the collision-probability quality signal that flags
    keyword-stuffed / looping documents, complementary to
    ``repetition_ratio`` (surface n-gram repeats) and Gopher's
    threshold rules. Division is trunc-toward-zero integer division on
    both engines (Spark ``div`` ↔ DuckDB ``//``; operands here are
    non-negative); docs with fewer than two tokens are excluded (the
    index is undefined at n < 2).

    Plan: explode → groupBy (doc_id, tok) → re-group by doc_id; the
    second aggregation reuses the first exchange's hash partitioning
    (HashPartitioning(doc_id, tok) does not satisfy doc_id alone, but
    the combine is map-side either way) — two map-side-combined
    shuffles whose widths are token-type counts, never raw corpus
    bytes. Per-doc state is bounded by the doc's vocabulary."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    c = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    a = c.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("rep"),
    )
    return a.where(F.col("n") >= 2).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tok"),
        F.col("k").cast("bigint").alias("n_types"),
        (
            F.lit(1000)
            - F.expr(
                "CAST(1000 * rep AS BIGINT) div CAST(n * (n - 1) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("simpson_permille"),
    )


# ---------------------------------------------------------------------------
# lexical richness: Yule's K + Sichel's S + hapax ratio per source


@query(
    "yule_sichel_richness",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
    c AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    a AS (
        SELECT source, SUM(c) AS n, COUNT(*) AS v, SUM(c * c) AS s2,
               COUNT_IF(c = 1) AS f1, COUNT_IF(c = 2) AS f2
        FROM c GROUP BY source)
    SELECT source, CAST(n AS BIGINT) AS n_tokens, CAST(v AS BIGINT) AS v_types,
           CAST(CAST(10000000 AS HUGEINT) * (s2 - n)
                // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS BIGINT)
               AS yule_k_x1000,
           CAST(1000 * f2 // v AS BIGINT) AS sichel_s_permille,
           CAST(1000 * f1 // v AS BIGINT) AS hapax_permille
    FROM a
    """,
    tags=("text", "quality", "statistics", "llm-pipeline"),
)
def yule_sichel_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-richness profile — the three classical
    closed-form constants corpus linguists use to compare text
    collections WITHOUT a log anywhere (Herdan's C and Honoré need
    ln, which is not cross-engine bit-exact; these are):

    - **Yule's K** = 10⁴·(Σc² − N)/N² over token frequencies c —
      repetitiveness of the vocabulary, size-invariant; reported
      ×1000. The squared terms ride decimal(38,0) ↔ HUGEINT (the
      chi2_statistic_exact convention): 10⁷·(Σc²−N) clears int64
      already at the 100× replica (Σc² ~ 10¹³ per source), so both
      engines compute the quotient in 128-bit exactly.
    - **Sichel's S** = f₂/V (proportion of dis legomena) and the
      **hapax ratio** f₁/V, both exact permille — the two
      frequency-spectrum statistics behind vocabulary-growth models
      (Sichel 1975; complements ``chao1_vocab_richness``'s f₁/f₂
      estimator with the spectrum proportions themselves).

    Plan: one corpus explode to (source, tok) counts (map-side
    combinable), then a vocabulary-sized rollup to |sources| rows —
    nothing downstream of the first aggregate is corpus-scale. All
    quotients truncate nonnegative numerators (Σc² ≥ N by c ≥ 1), so
    Spark ``div`` and DuckDB ``//`` agree."""
    toks = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("source", F.explode(F.split("text", " ")).alias("tok"))
    )
    c = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    a = c.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("v"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        F.count_if(F.col("c") == 1).alias("f1"),
        F.count_if(F.col("c") == 2).alias("f2"),
    )
    return a.selectExpr(
        "source",
        "CAST(n AS BIGINT) AS n_tokens",
        "CAST(v AS BIGINT) AS v_types",
        "CAST(CAST(10000000 AS DECIMAL(38,0)) * (s2 - n)"
        " div (CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))"
        " AS BIGINT) AS yule_k_x1000",
        "CAST((1000 * f2) div v AS BIGINT) AS sichel_s_permille",
        "CAST((1000 * f1) div v AS BIGINT) AS hapax_permille",
    )


# ---------------------------------------------------------------------------
# token burstiness (Church-Gale adaptation)

#: report the BURST_TOP_N highest-document-frequency tokens
BURST_TOP_N = 150


@query(
    "token_burstiness_topk",
    oracle=f"""
    WITH td AS (
        SELECT tok, doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE text IS NOT NULL)
        GROUP BY tok, doc_id),
    per_tok AS (
        SELECT tok, COUNT(*) AS df, COUNT_IF(c >= 2) AS df2, SUM(c) AS tf
        FROM td GROUP BY tok)
    SELECT tok, CAST(df AS BIGINT) AS df, CAST(tf AS BIGINT) AS tf,
           CAST(1000 * df2 // df AS BIGINT) AS burstiness_permille,
           CAST(1000 * tf // df AS BIGINT) AS mean_in_doc_permille
    FROM per_tok
    ORDER BY df DESC, tok
    LIMIT {BURST_TOP_N}
    """,
    tags=("text", "statistics", "llm-pipeline"),
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness for the top document-frequency tokens — the
    Church & Gale (1995) observation behind burstiness-aware term
    weighting: function words recur in a document at near-Poisson
    rates while content words, once they appear, tend to appear
    AGAIN. Reported per token as the exact adaptation probability
    P(c ≥ 2 | c ≥ 1) = docs-with-repeats / docs-containing (permille)
    plus the mean in-document count (permille) — both pure integer
    quotients. Consumes the same (token, doc) granularity as
    ``token_dispersion_stats`` but answers the within-document
    question its Fano/DP corpus-dispersion columns do not. Plan: one
    corpus explode → (tok, doc) counts → vocabulary-sized per-token
    rollup → TakeOrderedAndProject top-N with a total order (df desc,
    tok) — never a global sort, nothing broadcast."""
    td = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_tok = td.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.count_if(F.col("c") >= 2).alias("df2"),
        F.sum("c").alias("tf"),
    )
    return (
        per_tok.selectExpr(
            "tok",
            "CAST(df AS BIGINT) AS df",
            "CAST(tf AS BIGINT) AS tf",
            "CAST((1000 * df2) div df AS BIGINT) AS burstiness_permille",
            "CAST((1000 * tf) div df AS BIGINT) AS mean_in_doc_permille",
        )
        .orderBy(F.desc("df"), F.asc("tok"))
        .limit(BURST_TOP_N)
    )


# ---------------------------------------------------------------------------
# total variation distance between source unigram distributions


@query(
    "unigram_tvd_sources",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
    ps AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY 1, 2),
    w AS (SELECT source, SUM(len(string_split(text, ' '))) AS n
          FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
          GROUP BY source),
    common AS (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS n_common,
               SUM(ABS(a.c * wb.n - b.c * wa.n)) AS sum_abs,
               SUM(a.c) AS s_a, SUM(b.c) AS s_b
        FROM ps a JOIN ps b ON a.tok = b.tok AND a.source < b.source
        JOIN w wa ON wa.source = a.source
        JOIN w wb ON wb.source = b.source
        GROUP BY 1, 2),
    pairs AS (
        SELECT wa.source AS src_a, wb.source AS src_b,
               wa.n AS n_a, wb.n AS n_b
        FROM w wa JOIN w wb ON wa.source < wb.source)
    SELECT p.src_a, p.src_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common_types,
           CAST(1000 * (COALESCE(c.sum_abs, 0)
                        + (p.n_a - COALESCE(c.s_a, 0)) * p.n_b
                        + (p.n_b - COALESCE(c.s_b, 0)) * p.n_a)
                // (2 * p.n_a * p.n_b) AS BIGINT) AS tvd_permille
    FROM pairs p LEFT JOIN common c
      ON c.src_a = p.src_a AND c.src_b = p.src_b
    """,
    tags=("text", "statistics", "drift", "llm-pipeline"),
)
def unigram_tvd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total variation distance ½·Σ|p−q| between every pair of source
    unigram distributions — the exact-rational drift matrix where KL
    and Jensen-Shannon need logs (not cross-engine bit-exact): 0 =
    same distribution, 1000‰ = disjoint vocabularies. The
    distribution-level companion of ``vocab_jaccard_sources`` (which
    compares vocabularies as SETS); every source pair is emitted,
    including zero-overlap pairs at exactly 1000‰ (the complete pair
    frame comes from the bounded per-source totals, LEFT-joined to
    the common-token stats). Absent-part closed form (the
    t_closeness fold): only tokens present in BOTH sources join —
    Σ_only-a p = (N_a − Σ_common c_a)/N_a and symmetrically — so the
    join is inner, never full-outer, and nothing vocabulary-sized
    leaves the pair aggregate. All arithmetic is cross-multiplied
    over the common denominator N_a·N_b: int64-exact while
    1000·2·N_a·N_b < 2⁶³ (per-source token counts to ~2·10⁷ — holds
    through the 100× replica; past that, lift to decimal(38,0) ↔
    HUGEINT). The vocabulary self-join is pinned ``shuffle_hash``:
    both sides are corpus-derived token dictionaries, the build-side
    class AQE must never broadcast (the r9 rule; plan_audit's
    DictBcast column enforces the static face). Per-source totals
    need NO second explode — sum(size(split)) per doc row."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    ps = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n")
    )
    a = ps.select(
        F.col("source").alias("src_a"), "tok", F.col("c").alias("c_a")
    )
    b = ps.select(
        F.col("source").alias("src_b"), "tok", F.col("c").alias("c_b")
    )
    wa = w.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    wb = w.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    common = (
        a.join(b.hint("shuffle_hash"), "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(wa), "src_a")
        .join(F.broadcast(wb), "src_b")
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
            ).alias("sum_abs"),
            F.sum("c_a").alias("s_a"),
            F.sum("c_b").alias("s_b"),
        )
    )
    # COMPLETE pair frame: a source pair with zero
    # shared tokens never joins, but its TVD is exactly 1000‰ — build
    # every pair from the bounded totals relation and LEFT-join the
    # common-token stats, so "maximal drift" and "not measured" can't
    # be conflated
    pairs = (
        wa.crossJoin(wb)
        .where(F.col("src_a") < F.col("src_b"))
    )
    full = pairs.join(common, ["src_a", "src_b"], "left")
    return full.selectExpr(
        "src_a",
        "src_b",
        "CAST(COALESCE(n_common, 0) AS BIGINT) AS n_common_types",
        "CAST((1000 * (COALESCE(sum_abs, 0)"
        " + (n_a - COALESCE(s_a, 0)) * n_b"
        " + (n_b - COALESCE(s_b, 0)) * n_a))"
        " div (2 * n_a * n_b) AS BIGINT) AS tvd_permille",
    )


# ---------------------------------------------------------------------------
# repetition-ratio quality filter (Gopher-style repetition heuristic)


@query(
    "repetition_ratio",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) AS rep_ratio
    FROM documents
    """,
    tags=("text", "quality", "llm-pipeline"),
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token repetition ratio per document — 1 - distinct/total tokens,
    the cheapest of the Gopher repetition family (its siblings swap the
    unit: duplicate lines, duplicate n-grams). High ratios mark
    boilerplate/spam for corpus filtering. Pure JVM array ops on an
    embarrassingly parallel projection: no shuffle at any scale, and
    the ratio is an exact-integer division (deterministic)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    nd = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        nd.cast("bigint").alias("n_distinct"),
        (F.lit(1.0) - nd.cast("double") / n).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# corpus bigram counts (count-based LM / contamination primitive)

BIGRAM_TOP_N = 50


@query(
    "ngram_lm_counts",
    oracle=f"""
    WITH toks AS (SELECT string_split(text, ' ') AS w FROM documents),
    idx AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks),
    bi AS (SELECT w[i] || ' ' || w[i + 1] AS bigram FROM idx)
    SELECT bigram, COUNT(*) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {BIGRAM_TOP_N}
    """,
    tags=("text", "ngram", "llm-pipeline"),
)
def ngram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency table, top-N — the count table a
    count-based LM, a contamination checker, or a collocation miner
    starts from. Bigrams are generated JVM-side with a higher-order
    transform over token indices (no Python) — the token array is
    materialized ONCE per row first (interpreted HOF lambdas do no CSE
    across the lambda boundary, so an inlined split re-splits the
    document per element access; see SCALE.md round-9 wave 2) — then
    one shuffle aggregates counts; top-N is a TakeOrdered, ties broken
    by bigram so the result SET is unique. At 100 TB the groupBy
    benefits from map-side partial aggregation; skew on stop-bigrams
    is absorbed by AQE."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.split(F.col("text"), " ").alias("w"))
        .select(F.explode(bigram_structs("w")).alias("b"))
        .select(F.concat("b.x", F.lit(" "), "b.y").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(BIGRAM_TOP_N)
    )


# ---------------------------------------------------------------------------
# corpus-frequency quality score (count-based LM proxy)

#: a token is "rare" if its corpus frequency is at or below this
RARE_T = 2


@query(
    "unigram_freq_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok)
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           CAST(SUM(f.cnt) AS DOUBLE) / COUNT(*) AS avg_tok_freq,
           CAST(SUM(CASE WHEN f.cnt <= {RARE_T} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS rare_frac
    FROM toks t JOIN freq f ON t.tok = f.tok
    GROUP BY t.doc_id
    """,
    tags=("text", "llm-pipeline"),
)
def unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based language-model quality proxy: score each document by
    the corpus-wide frequency of its own tokens — low average frequency
    and a high rare-token fraction mark gibberish, OCR noise, and
    boilerplate-free outliers (the integer-exact cousin of a KenLM
    perplexity filter; log-prob variants differ per-libm and would
    flake a bit-exact oracle). Two shuffles at scale: token-count
    aggregate, then token→doc re-aggregate; the frequency table joins
    back by token with a pinned ``shuffle_hash`` — it is a
    corpus-derived string dictionary, the build-side class whose
    compressed-size estimate AQE under-sizes (the r9
    ngram_novelty_score OOM; plan_audit's DictBcast guard)."""
    toks = fanned_documents(spark, sf_dir).select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(freq.hint("shuffle_hash"), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias("avg_tok_freq"),
            (
                F.sum(
                    F.when(F.col("cnt") <= RARE_T, F.lit(1)).otherwise(F.lit(0))
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )


#: documents per batch for the vocabulary growth curve — per-document
#: granularity: the curve's row count is bounded by |vocabulary| (only
#: batches that INTRODUCE a token appear), not by corpus size
VOCAB_CURVE_BATCH = 1


@query(
    "vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id // {VOCAB_CURVE_BATCH} AS batch, unnest(string_split(lower(trim(text)), ' ')) AS token
        FROM documents),
    first_seen AS (
        SELECT token, MIN(batch) AS first_batch FROM toks GROUP BY token),
    per_batch AS (
        SELECT first_batch AS batch, COUNT(*) AS n_new FROM first_seen GROUP BY first_batch)
    SELECT batch,
           CAST(n_new AS BIGINT) AS n_new_tokens,
           CAST(SUM(n_new) OVER (ORDER BY batch ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS vocab_size
    FROM per_batch
    """,
    tags=("text", "corpus", "llm-pipeline"),
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps' law) over ingestion order: how many
    NEVER-SEEN tokens each successive document contributes, and the
    running vocabulary size — the curve that tells a corpus team when
    additional data stops buying lexical diversity (and what
    vocabulary budget a tokenizer needs). First-seen is one (token →
    min batch) aggregate — tokens travel once; the cumulative sum runs
    over a relation with AT MOST |vocabulary| rows (only batches that
    introduced a new token survive the aggregate) — the group-bounded
    window pattern at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") / VOCAB_CURVE_BATCH).cast("long").alias("batch"),
        F.explode(F.split(F.lower(F.trim("text")), " ")).alias("token"),
    )
    first_seen = toks.groupBy("token").agg(F.min("batch").alias("first_batch"))
    per_batch = first_seen.groupBy(F.col("first_batch").alias("batch")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = W.orderBy("batch").rowsBetween(W.unboundedPreceding, W.currentRow)
    return per_batch.select(
        "batch",
        F.col("n_new").cast("bigint").alias("n_new_tokens"),
        F.sum("n_new").over(w).cast("bigint").alias("vocab_size"),
    )
