"""Training-data pipeline operators (driver north star: LLM-pipeline
surface beyond the reference's transport layer).

Complements dedup.py / similarity.py / text.py with the remaining
pipeline stages a 100 TB corpus build needs: deterministic sampling and
train/val/test splitting, corpus statistics (TF-IDF), embedding
pooling, and text normalization.

Determinism discipline: sampling and splits key on `id % k`, never on
`rand()` — the same row lands in the same split on any cluster, any
partitioning, any engine (rand() is neither reproducible across
engines nor stable under retries/speculative execution at scale).
Float scoring avoids cross-engine transcendental drift by rounding to
6 decimals (ln is not correctly-rounded; Java Math.log and libm may
differ in the last ulp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# sampling / splits


@query(
    "sample_stratified_mod",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_sampled,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,0))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 20 = 7
    GROUP BY l_returnflag
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample: every 20th order (key mod), with
    per-stratum stats. The modulo predicate is partition-local — no
    shuffle, no RNG state, identical sample on every run/cluster; at
    100 TB the filter evaluates inside the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 20 == 7)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(F.col("l_quantity").cast("decimal(12,0)"))
        .cast("double")
        .alias("sum_qty"),
    )


@query(
    "train_test_split_mod",
    oracle="""
    SELECT CASE WHEN doc_id % 10 <= 7 THEN 'train'
                WHEN doc_id % 10 = 8 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY split
    """,
    tags=("pipeline", "sampling"),
)
def train_test_split_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split keyed on doc_id mod — stable under
    re-partitioning, retries, and incremental corpus growth (a doc's
    split never changes when new docs arrive, unlike percentile- or
    rand()-based splits)."""
    d = load_table(spark, sf_dir, "documents")
    split = (
        F.when(F.col("doc_id") % 10 <= 7, "train")
        .when(F.col("doc_id") % 10 == 8, "val")
        .otherwise("test")
    )
    return (
        d.groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


# ---------------------------------------------------------------------------
# embeddings


@query(
    "embedding_avg_pool",
    oracle="""
    SELECT label, pos,
           CAST(SUM(CAST(floor(CAST(e AS DOUBLE) * 1000000000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000000000.0 / COUNT(*) AS avg_val,
           COUNT(*) AS n_vecs
    FROM (
        SELECT label,
               unnest(embedding) AS e,
               unnest(generate_series(0, len(embedding) - 1)) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
    """,
    tags=("pipeline", "embedding"),
)
def embedding_avg_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid via element-wise average pooling: posexplode
    flattens vectors to (label, pos, value) rows so the aggregation is
    a plain hash groupBy on (label, pos) — fully JVM-side, scales to
    any vector count with one shuffle of dims×rows skinny rows. Float
    components are quantized to integer picounits via floor(x·1e12)
    and summed as exact bigints (order-independent, and floor — unlike
    decimal rounding — has no round-half midpoint ambiguity between
    engines; one in ~30k values landed on an exact midpoint and
    HALF_UP/HALF_EVEN diverged)."""
    em = load_table(spark, sf_dir, "embeddings")
    pico = F.floor(F.col("e").cast("double") * F.lit(1e12)).cast("bigint")
    return (
        em.select("label", F.posexplode("embedding").alias("pos", "e"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(pico).cast("double") / F.lit(1e12) / F.count(F.lit(1))
            ).alias("avg_val"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
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
# URL canonicalization + URL-level dedup (crawl-pipeline pre-step)

#: the canonicalization pipeline shared by both engines, as SQL text
#: over a raw `url` column: strip fragment → split query → lowercase
#: scheme+host → drop utm_* tracking params → sort remaining params.
_URL_CANON_SQL = """
    lower(split_part(split_part(split_part(url, '#', 1), '?', 1), '://', 1))
    || '://'
    || lower(split_part(split_part(split_part(split_part(url, '#', 1), '?', 1),
                                   '://', 2), '/', 1))
    || substr(split_part(split_part(split_part(url, '#', 1), '?', 1), '://', 2),
              length(split_part(split_part(split_part(split_part(url, '#', 1),
                                                      '?', 1), '://', 2),
                                '/', 1)) + 1)
    || CASE WHEN {params} = '' THEN '' ELSE '?' || {params} END
"""


@query(
    "url_canonicalize_dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
               || '://'
               || (CASE WHEN doc_id % 3 = 0
                        THEN upper('www.' || source || '.example.com')
                        ELSE 'www.' || source || '.example.com' END)
               || '/docs/' || CAST(doc_id // 2 AS VARCHAR)
               || (CASE WHEN doc_id % 2 = 0
                        THEN '?id=' || CAST(doc_id // 2 AS VARCHAR)
                             || '&utm_source=news&ref=a'
                        ELSE '?ref=a&id=' || CAST(doc_id // 2 AS VARCHAR)
                             || '&utm_medium=mail' END)
               || '#section-' || CAST(doc_id AS VARCHAR) AS url
        FROM documents),
    canon AS (
        SELECT doc_id, url,
               {_URL_CANON_SQL.format(params='''
                   array_to_string(list_sort(list_filter(
                       string_split(split_part(split_part(url, '#', 1), '?', 2), '&'),
                       x -> NOT starts_with(x, 'utm_'))), '&')''')} AS url_canonical
        FROM raw)
    SELECT doc_id, url_canonical,
           CAST(MIN(doc_id) OVER (PARTITION BY url_canonical) AS BIGINT)
               AS keeper_doc_id
    FROM canon
    """,
    tags=("pipeline", "dedup", "url", "llm-pipeline"),
)
def url_canonicalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — the cheapest pre-step of a crawl pipeline,
    run BEFORE any content hashing: canonicalize (lowercase scheme and
    host, strip the fragment, drop ``utm_*`` tracking params, sort the
    surviving query params) and keep the lowest doc per canonical URL.
    Two raw fetches of the same page routinely differ only in tracking
    noise; at 100 TB this one string pipeline removes them for the
    cost of a projection plus one |urls|-keyed window — no content
    bytes touched.

    The raw URLs are synthesized deterministically from doc fields
    (scheme/host casing and param order vary per doc, consecutive doc
    pairs share a page), so the oracle can rebuild the identical input
    and the *canonicalization algorithm itself* — shared SQL text,
    ``split_part``/higher-order-filter based, no UDF — is what both
    engines must agree on, byte for byte."""
    d = load_table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.expr(
            """
            (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END)
            || '://'
            || (CASE WHEN doc_id % 3 = 0
                     THEN upper('www.' || source || '.example.com')
                     ELSE 'www.' || source || '.example.com' END)
            || '/docs/' || CAST(doc_id DIV 2 AS STRING)
            || (CASE WHEN doc_id % 2 = 0
                     THEN '?id=' || CAST(doc_id DIV 2 AS STRING)
                          || '&utm_source=news&ref=a'
                     ELSE '?ref=a&id=' || CAST(doc_id DIV 2 AS STRING)
                          || '&utm_medium=mail' END)
            || '#section-' || CAST(doc_id AS STRING)
            """
        ).alias("url"),
    )
    params = """
        array_join(array_sort(filter(
            split(split_part(split_part(url, '#', 1), '?', 2), '&'),
            x -> NOT startswith(x, 'utm_'))), '&')"""
    canon = raw.select(
        "doc_id",
        F.expr(_URL_CANON_SQL.format(params=params)).alias("url_canonical"),
    )
    w = W.partitionBy("url_canonical")
    return canon.select(
        "doc_id",
        "url_canonical",
        F.min("doc_id").over(w).cast("bigint").alias("keeper_doc_id"),
    )


@query(
    "token_length_histogram_log2",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    b AS (SELECT doc_id, n_tokens,
                 CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket
          FROM t)
    SELECT bucket,
           CAST(pow(2, bucket) AS BIGINT) AS bucket_lo,
           CAST(pow(2, bucket + 1) - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM b GROUP BY bucket
    """,
    tags=("pipeline", "histogram", "llm-pipeline"),
)
def token_length_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length histogram in power-of-2 buckets — the input a
    sequence-packing planner reads (how much of the corpus fits 512
    tokens, how much needs 4k, where padding waste concentrates).
    Bucket index is ⌊log₂ n⌋ computed *integer-exactly* as the length
    of the binary representation minus one (both engines' ``bin``),
    never floating log2, whose 1-ulp wobble at exact powers of two
    would misbucket boundary documents differently per libm. One
    map-side-combined aggregate over ≤64 buckets — constant output at
    any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    b = t.withColumn(
        "bucket", (F.length(F.bin("n_tokens")) - 1).cast("int")
    )
    return b.groupBy("bucket").agg(
        F.expr("CAST(pow(2, bucket) AS BIGINT)").alias("bucket_lo"),
        F.expr("CAST(pow(2, bucket + 1) - 1 AS BIGINT)").alias("bucket_hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


@query(
    "split_leakage_audit",
    oracle="""
    SELECT a.doc_id AS train_doc, b.doc_id AS test_doc
    FROM documents a
    JOIN documents b
      ON a.text = b.text AND a.doc_id <> b.doc_id
    WHERE a.doc_id % 10 < 8 AND b.doc_id % 10 >= 8
    """,
    tags=("pipeline", "quality", "llm-pipeline"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE audit — the check every eval pipeline must
    run after splitting: exact-duplicate documents that landed on
    OPPOSITE sides of the split (train copy + test copy = the eval is
    contaminated). The join keys on ``xxhash64(text)`` — 8 bytes per
    row through the shuffle instead of document bodies — with an exact
    text-equality confirm on the survivors, so the plan holds at
    100 TB while the result is collision-proof. Complements
    ``decontaminate_ngram`` (near-dup leakage) with the exact-dup
    case."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.xxhash64("text").alias("h")
    )
    train = d.where(F.col("doc_id") % 10 < 8)
    test = d.where(F.col("doc_id") % 10 >= 8)
    return (
        train.alias("a")
        .join(
            test.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.text") == F.col("b.text"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("train_doc"),
            F.col("b.doc_id").alias("test_doc"),
        )
    )
