"""Text-analysis operators over the ``documents`` table (north-star
LLM-pipeline layer; no analogue in the reference — its payloads are
opaque bytes, `marshaller.go:42-47`).

Everything here is JVM-side built-in functions (split / higher-order
array functions / regexp), zero Python UDFs — at 100 TB these all run
inside whole-stage codegen, and tokenization happens exactly once per
expression tree.

Cross-engine determinism: every statistic is integer-derived (counts,
lengths) with at most one final int→double division, which is exact in
IEEE-754 on both engines, so oracle hashes are bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from watermill_kinesis_spark.functions.textexpr import word_shingles
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
