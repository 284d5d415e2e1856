"""Pipeline wave 6: fingerprint selection (winnowing), content-defined
chunking, first-occurrence novelty, rank-exact length trimming, vocab
coverage, and shard-balance auditing.

The reference has no relational surface at all (SURVEY.md §2-B); these
are Layer-B LLM-corpus operators extending the driver's north star.
Cross-engine determinism discipline: every hash that must agree with
the DuckDB oracle is md5 (both engines emit identical lowercase hex)
ordered LEXICOGRAPHICALLY or bucketed by hex prefix — never an
engine-private hash like xxhash64 — and every ratio reaching the
oracle hash is an exact integer (permille via integer division), never
a float division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.textexpr import word_ngram_rows
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

#: winnowing: char-k-gram length and window width (MOSS defaults scaled
#: down to the synthetic corpus' ~250-char documents)
WINNOW_K = 8
WINNOW_W = 4

#: content-defined chunking: a boundary fires where the k-gram hash's
#: first two hex chars are "00" — P(boundary) = 1/256, E[chunk] ≈ 256
CDC_K = 8
CDC_BOUNDARY_PREFIX = "00"

#: n-gram width for first-occurrence novelty
NOVELTY_N = 5

#: trim fraction per tail for length_trim_percentile (5% ⇒ inner 90%)
TRIM_PCT = 5

#: ``adaptive_partitions`` expansion for a pre-explode doc repartition:
#: text decompresses ~10× out of parquet and each char-gram row is
#: ~24 B of (doc_id, i, hash) in the exchange
GRAM_EXPAND = 10 * 24


def _char_gram_hashes(d: DataFrame, k: int) -> DataFrame:
    """(doc_id, i, h): md5 of the k-char gram starting at 1-based i.
    The hash stays a STRING — lexicographic order and hex-prefix
    bucketing are engine-portable; parsing hex to integers is not."""
    starts = F.sequence(F.lit(1), F.length("text") - k + 1)
    return (
        d.where(F.length("text") >= k)
        .select("doc_id", F.explode(starts).alias("i"), "text")
        .select(
            "doc_id",
            "i",
            F.md5(F.substr("text", F.col("i"), F.lit(k))).alias("h"),
        )
    )


def _char_gram_hashes_bin(d: DataFrame, k: int) -> DataFrame:
    """ENGINE-INTERNAL twin of :func:`_char_gram_hashes` whose hash is
    the 16-byte BINARY md5 (``unhex``) instead of the 32-char hex
    string. For consumers where ``h`` never reaches the output —
    equality joins, distinct, and window ranking/min — the two are
    value-equivalent: hex encoding is byte-order-preserving, so
    ``min()`` selects the same gram and equality groups the same rows,
    while the shuffled key halves (16 B vs 32 B + string overhead) and
    the sort comparisons run on raw bytes. Measured on the excise
    ranking at sf0.1: 2.82 s → 0.74 s for the identical dup-row set
    (optimization round 14, guide §2.3 "narrower types"). Consumers
    that EXPOSE the hash (winnowing_fingerprints, chunk_cdc_rolling)
    keep the hex form."""
    starts = F.sequence(F.lit(1), F.length("text") - k + 1)
    return (
        d.where(F.length("text") >= k)
        .select("doc_id", F.explode(starts).alias("i"), "text")
        .select(
            "doc_id",
            "i",
            F.unhex(F.md5(F.substr("text", F.col("i"), F.lit(k)))).alias("h"),
        )
    )


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, i,
               md5(substr(text, CAST(i AS INT), {WINNOW_K})) AS h
        FROM documents,
             unnest(range(1, length(text) - {WINNOW_K} + 2)) AS t(i)
        WHERE length(text) >= {WINNOW_K}),
    wins AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN {WINNOW_W - 1} PRECEDING
                                     AND CURRENT ROW) AS fp,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        FROM grams)
    SELECT doc_id,
           CAST(COUNT(*) FILTER (rn >= {WINNOW_W}) AS BIGINT) AS n_windows,
           CAST(COUNT(DISTINCT fp) FILTER (rn >= {WINNOW_W}) AS BIGINT)
               AS n_fingerprints,
           MIN(fp) FILTER (rn >= {WINNOW_W}) AS min_fingerprint
    FROM wins GROUP BY doc_id
    """,
    tags=("pipeline", "fingerprint", "dedup", "llm-pipeline"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken
    2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    the MOSS algorithm): hash every char k-gram, slide a w-window over
    the hash sequence, keep each window's MINIMUM — guaranteeing any
    shared substring of length ≥ k+w−1 yields at least one shared
    fingerprint, with ~2/(w+1) selection density. Hashes are md5
    strings ordered lexicographically (any total order works for
    winnowing, and this one is identical on every engine). Emits
    per-doc window/fingerprint counts + the smallest fingerprint
    (the doc's minhash over all windows). One explode + one w-row
    window frame + one groupBy — all partitioned by doc_id, so the
    whole plan is one doc-keyed shuffle at any corpus size."""
    # Repartition by doc_id BEFORE the gram explode (guide §2.3
    # "project before the exchange", inverted: exchange before the
    # explode): the explode+md5 otherwise runs in the single-split
    # scan task (profiled 3.7 s serial) and the
    # doc_id window then shuffles the EXPLODED rows — 52 MB of md5
    # strings at sf0.1 versus ~0.6 MB of raw text. With the text
    # exchanged first, hashing is parallel and the window + final
    # groupBy reuse the doc_id partitioning: zero post-explode
    # exchanges. Sized from the estimated gram volume.
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = load_table(spark, sf_dir, "documents").repartition(
        adaptive_partitions(spark, sf_dir, "documents", expand=GRAM_EXPAND),
        "doc_id",
    )
    grams = _char_gram_hashes(d, WINNOW_K)
    win = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    rn = W.partitionBy("doc_id").orderBy("i")
    full = F.col("rn") >= WINNOW_W  # first w-1 windows are partial
    wins = grams.select(
        "doc_id",
        F.min("h").over(win).alias("fp"),
        F.row_number().over(rn).alias("rn"),
    )
    return wins.groupBy("doc_id").agg(
        F.count(F.when(full, 1)).alias("n_windows"),
        F.count_distinct(F.when(full, F.col("fp"))).alias("n_fingerprints"),
        F.min(F.when(full, F.col("fp"))).alias("min_fingerprint"),
    )


@query(
    "chunk_cdc_rolling",
    oracle=f"""
    WITH bounds AS (
        SELECT doc_id, i
        FROM documents,
             unnest(range(1, length(text) - {CDC_K} + 2)) AS t(i)
        WHERE length(text) >= {CDC_K}
          AND substr(md5(substr(text, CAST(i AS INT), {CDC_K})), 1, 2)
              = '{CDC_BOUNDARY_PREFIX}'),
    chunks AS (
        SELECT doc_id,
               i - COALESCE(LAG(i) OVER (PARTITION BY doc_id ORDER BY i), 0)
                   AS chunk_len
        FROM bounds)
    SELECT d.doc_id,
           CAST(COALESCE(COUNT(c.chunk_len), 0) + 1 AS BIGINT) AS n_chunks,
           CAST(COALESCE(MAX(c.chunk_len), 0) AS BIGINT) AS max_chunk,
           CAST(d.n_chars - COALESCE(SUM(c.chunk_len), 0) AS BIGINT)
               AS tail_chunk
    FROM documents d LEFT JOIN chunks c ON d.doc_id = c.doc_id
    GROUP BY d.doc_id, d.n_chars
    """,
    tags=("pipeline", "chunking", "dedup", "llm-pipeline"),
)
def chunk_cdc_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rabin family used by
    dedup storage and by long-document splitters that must keep chunk
    boundaries STABLE under insertions — fixed-size chunks shift every
    boundary after an edit; content-defined ones realign): a boundary
    fires wherever the rolling k-gram hash lands in a 1/256 target
    region (md5 hex prefix "00" — engine-portable, stateless per
    position, no sequential scan dependency). Chunk lengths come from
    LAG over the boundary positions; the trailing unclosed chunk is
    reported separately. Per-doc windowing only — one doc-keyed
    shuffle; positions explode is Catalyst-vectorized; linear at
    100 TB."""
    # pre-explode doc_id repartition: parallel gram hashing + the LAG
    # window and the final doc_id join reuse the partitioning (see
    # winnowing_fingerprints)
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = load_table(spark, sf_dir, "documents").repartition(
        adaptive_partitions(spark, sf_dir, "documents", expand=GRAM_EXPAND),
        "doc_id",
    )
    grams = _char_gram_hashes(d, CDC_K)
    bounds = grams.where(
        F.substr("h", F.lit(1), F.lit(2)) == CDC_BOUNDARY_PREFIX
    ).select("doc_id", "i")
    lag = W.partitionBy("doc_id").orderBy("i")
    chunks = bounds.select(
        "doc_id",
        (F.col("i") - F.coalesce(F.lag("i").over(lag), F.lit(0))).alias(
            "chunk_len"
        ),
    )
    return (
        d.select("doc_id", "n_chars")
        .join(chunks, "doc_id", "left")
        .groupBy("doc_id", "n_chars")
        .agg(
            (F.count("chunk_len") + 1).alias("n_chunks"),
            F.coalesce(F.max("chunk_len"), F.lit(0)).alias("max_chunk"),
            (
                F.col("n_chars") - F.coalesce(F.sum("chunk_len"), F.lit(0))
            ).alias("tail_chunk"),
        )
        .select("doc_id", "n_chunks", "max_chunk", "tail_chunk")
    )


@query(
    "ngram_novelty_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[CAST(i AS INT):CAST(i AS INT) + {NOVELTY_N - 1}], ' ') AS gram
        FROM toks, unnest(range(1, len(t) - {NOVELTY_N} + 2)) AS r(i)
        WHERE len(t) >= {NOVELTY_N}),
    firsts AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (f.first_doc = g.doc_id) AS BIGINT) AS n_novel,
           CAST(COUNT(*) FILTER (f.first_doc = g.doc_id) * 1000
                // COUNT(*) AS BIGINT) AS novelty_permille
    FROM g JOIN firsts f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
    tags=("pipeline", "novelty", "dedup", "llm-pipeline"),
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty — the per-document "how much of this
    have we already ingested" metric used to rank crawl snapshots and
    prioritize fresh data: a doc's distinct n-grams are NOVEL if no
    lower-doc_id document contains them (doc_id is ingest order here;
    any monotone ingest key works). Computed set-exactly WITHOUT ever
    joining on the gram: n_novel per doc is just the count of grams
    whose min(doc_id) IS that doc — a second aggregation OVER the
    firsts table — and n_grams is the per-doc distinct count; the two
    doc-keyed aggregates then join on doc_id. The first cut joined the
    g relation back against firsts on the gram string and AQE's
    post-agg size estimate elected to BROADCAST the gram dictionary —
    an artifact that grows with the corpus — measured as a
    driver-broadcast OOM on the vanilla 1 GiB session at the 10×
    replica (the sf0.1 gate fit by luck). Now no gram-keyed join
    exists to mis-plan: the gram dictionary lives exactly one
    aggregation long. Novelty is an exact integer permille, never a
    float."""
    d = load_table(spark, sf_dir, "documents")
    g = word_ngram_rows(d, NOVELTY_N).distinct()
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.expr(
                "CAST(COALESCE(n_novel, 0) * 1000 div n_grams AS BIGINT)"
            ).alias("novelty_permille"),
        )
    )


@query(
    "length_trim_percentile",
    oracle=f"""
    WITH ranked AS (
        SELECT source, n_chars, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents),
    kept AS (
        SELECT * FROM ranked
        WHERE rn > n * {TRIM_PCT} // 100 AND rn <= n - n * {TRIM_PCT} // 100)
    SELECT r.source,
           CAST(MAX(r.n) AS BIGINT) AS n_total,
           CAST(COUNT(k.doc_id) AS BIGINT) AS n_kept,
           CAST(MIN(k.n_chars) AS BIGINT) AS min_kept_chars,
           CAST(MAX(k.n_chars) AS BIGINT) AS max_kept_chars
    FROM ranked r LEFT JOIN kept k
      ON r.source = k.source AND r.doc_id = k.doc_id
    GROUP BY r.source
    """,
    tags=("pipeline", "quality", "llm-pipeline"),
)
def length_trim_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail-trimming by RANK, not by approximate quantile: drop each
    source's shortest and longest 5% of documents (truncation-extreme
    docs and boilerplate mega-docs distort token budgets). Quantile
    functions differ subtly across engines (interpolation modes), so
    the cut is defined by exact integer ranks — row_number over
    (n_chars, doc_id) with floor(n·5/100) trimmed per tail — which is
    reproducible everywhere, deterministic under ties, and at scale
    costs one source-keyed window (no global sort: each source ranks
    inside its own partition)."""
    d = load_table(spark, sf_dir, "documents")
    win = W.partitionBy("source").orderBy("n_chars", "doc_id")
    cnt = W.partitionBy("source")
    ranked = d.select(
        "source",
        "n_chars",
        "doc_id",
        F.row_number().over(win).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    lo = F.expr(f"n * {TRIM_PCT} div 100")
    keep = (F.col("rn") > lo) & (F.col("rn") <= F.col("n") - lo)
    kept_chars = F.when(keep, F.col("n_chars"))
    return ranked.groupBy("source").agg(
        F.max("n").alias("n_total"),
        F.count(F.when(keep, 1)).alias("n_kept"),
        F.min(kept_chars).alias("min_kept_chars"),
        F.max(kept_chars).alias("max_kept_chars"),
    )


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


@query(
    "shard_balance_audit",
    oracle="""
    WITH b AS (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
               n_chars
        FROM documents),
    per AS (
        SELECT shard, COUNT(*) AS n_docs, SUM(n_chars) AS n_bytes
        FROM b GROUP BY shard)
    SELECT shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(n_bytes * 16 * 1000 // SUM(n_bytes) OVER () AS BIGINT)
               AS load_permille_of_even
    FROM per
    """,
    tags=("pipeline", "partitioning", "llm-pipeline"),
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for a content-hash partitioning: bucket
    every document by the first hex char of md5(doc_id) (16 shards —
    the same family of keys `corpus_shuffle_hash` and the shard
    manifest use) and report per-shard document count, byte load, and
    load as permille of the even share (1000 = perfectly balanced;
    the writer's pre-flight check before committing a layout). The
    audit reduces the corpus to 16 rows BEFORE the window computes
    the total, so the single-partition exchange carries 16 rows at
    any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select(
            F.substr(F.md5(F.col("doc_id").cast("string")), F.lit(1), F.lit(1)).alias(
                "shard"
            ),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_bytes"),
        )
    )
    return per.select(
        "shard",
        "n_docs",
        "n_bytes",
        F.expr(
            "CAST(n_bytes * 16 * 1000 div SUM(n_bytes) OVER () AS BIGINT)"
        ).alias("load_permille_of_even"),
    )


#: deterministic per-source sample size for reservoir_sample_per_source
RESERVOIR_K = 10

#: context-window capacity (chars) for packing_next_fit
BIN_CAPACITY = 2048


@query(
    "reservoir_sample_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT source, doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS h,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rk
        FROM documents)
    SELECT source, doc_id, rk AS sample_rank
    FROM ranked WHERE rk <= {RESERVOIR_K}
    """,
    tags=("pipeline", "sampling", "llm-pipeline"),
)
def reservoir_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-group sample — the reservoir-sampling
    use case (k docs per source for eval sets, spot QA, data cards)
    without reservoir sampling's run-to-run nondeterminism: rank each
    source's docs by md5(doc_id) (statistically uniform, identical on
    every engine/run/retry) and keep the k smallest. One source-keyed
    window, no global pass; at 100 TB each source ranks inside its own
    partition and emits exactly k rows."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    win = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("source", "doc_id", F.row_number().over(win).alias("sample_rank"))
        .where(F.col("sample_rank") <= RESERVOIR_K)
    )


@query(
    "packing_next_fit",
    oracle=f"""
    WITH RECURSIVE ordered AS (
        SELECT source, doc_id, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents),
    walk(source, rn, fill, bins) AS (
        SELECT source, rn, n_chars, 1 FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.source, o.rn,
               CASE WHEN w.fill + o.n_chars > {BIN_CAPACITY}
                    THEN o.n_chars ELSE w.fill + o.n_chars END,
               w.bins + CASE WHEN w.fill + o.n_chars > {BIN_CAPACITY}
                             THEN 1 ELSE 0 END
        FROM walk w JOIN ordered o
          ON o.source = w.source AND o.rn = w.rn + 1)
    SELECT w.source,
           CAST(MAX(w.rn) AS BIGINT) AS n_docs,
           CAST(MAX(w.bins) AS BIGINT) AS n_bins,
           CAST(SUM(o.n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(w.bins) * {BIN_CAPACITY} - SUM(o.n_chars) AS BIGINT)
               AS wasted_chars
    FROM walk w JOIN ordered o ON o.source = w.source AND o.rn = w.rn
    GROUP BY w.source
    """,
    tags=("pipeline", "packing", "tokenizer", "llm-pipeline"),
)
def packing_next_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing — the context-window packing step of
    training-data prep (greedy, ORDER-PRESERVING: a doc that would
    overflow the open bin closes it and starts the next; an oversize
    doc occupies a bin alone), reported as per-source bin counts and
    padding waste. The sequential fold is genuinely not windowable
    (each bin boundary depends on the previous boundary), so it runs
    as a per-source ``applyInPandas`` fold — the realistic 100 TB
    shape packs per SHARD exactly like this, one sequential pass over
    each shard's docs in parallel across shards. The oracle computes
    the same fold as a DuckDB recursive CTE, so the engine's
    sequential kernel is value-checked against an independent
    formulation, not against itself."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        fill = 0
        bins = 0
        for n in pdf["n_chars"]:
            n = int(n)
            if bins == 0 or fill + n > BIN_CAPACITY:
                bins += 1
                fill = n
            else:
                fill += n
        total = int(pdf["n_chars"].sum())
        return pd.DataFrame(
            {
                "source": pdf["source"].iloc[:1],
                "n_docs": [len(pdf)],
                "n_bins": [bins],
                "total_chars": [total],
                "wasted_chars": [bins * BIN_CAPACITY - total],
            }
        )

    return d.groupBy("source").applyInPandas(
        pack,
        "source string, n_docs long, n_bins long, "
        "total_chars long, wasted_chars long",
    )


#: exact-substring dedup: guarantee length L = SUB_K + SUB_W − 1 —
#: any pair sharing an exact ≥L-char substring shares a selected
#: winnowing fingerprint (Schleimer et al. 2003, Theorem: correctness
#: of winnowing), so the fingerprint join's candidates are a SUPERSET
#: of the true pairs and the verify step makes the result exact.
SUB_K = 18
SUB_W = 7
SUB_L = SUB_K + SUB_W - 1
#: bound the pair blow-up on the deliberately-repetitive synthetic
#: corpus (same device as embedding_normalize's vec_id < 500)
SUB_MAX_DOC = 500


@query(
    "dedup_exact_substring",
    oracle=f"""
    WITH g AS (
        SELECT DISTINCT doc_id,
               md5(substr(text, CAST(i AS INT), {SUB_L})) AS h
        FROM documents,
             unnest(range(1, length(text) - {SUB_L} + 2)) AS t(i)
        WHERE length(text) >= {SUB_L} AND doc_id < {SUB_MAX_DOC})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
    tags=("pipeline", "dedup", "fingerprint", "llm-pipeline"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    criterion, at window granularity): every unordered doc pair
    sharing at least one exact SUB_L(=24)-char window, with the count of
    distinct shared windows. The engine computes it the SCALABLE way —
    winnowing-accelerated:

    1. select winnowing fingerprints (k=SUB_K, w=SUB_W) — ~2/(w+1)
       of positions, so the candidate join shuffles a fraction of the
       gram volume;
    2. candidate pairs = docs sharing a selected fingerprint. The
       winnowing guarantee makes this a SUPERSET of all pairs sharing
       a ≥k+w−1-char substring — no recall loss by construction;
    3. verify: the full SUB_L-gram sets of CANDIDATE DOCS ONLY are
       joined to produce exact shared-window counts.

    The oracle is the direct all-grams self-join — an INDEPENDENT
    formulation that never sees the fingerprints — so the driver's
    hash compare re-proves the winnowing superset guarantee over the
    whole corpus every round, not just on a test fixture. At 100 TB
    the fingerprint join is the only corpus-wide shuffle; the verify
    join touches candidate docs only (dup-heavy inputs degrade toward
    the plain gram join, never past it)."""
    # pre-explode doc_id repartition: parallel gram hashing for BOTH
    # gram passes + the winnowing window reuses the partitioning (see
    # winnowing_fingerprints)
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < SUB_MAX_DOC)
        .repartition(
            adaptive_partitions(
                spark, sf_dir, "documents", expand=GRAM_EXPAND
            ),
            "doc_id",
        )
    )
    # binary md5 grams (engine-internal — h never reaches the output;
    # see _char_gram_hashes_bin: same selection/equality semantics,
    # half the shuffled key bytes, byte-wise sort comparisons)
    grams = _char_gram_hashes_bin(d, SUB_L).select("doc_id", "h").distinct()
    # 1. winnowing selection over the SUB_K-gram hash sequence
    kg = _char_gram_hashes_bin(d, SUB_K)
    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(SUB_W - 1), 0)
    rn = W.partitionBy("doc_id").orderBy("i")
    fps = (
        kg.select(
            "doc_id",
            F.min("h").over(win).alias("fp"),
            F.row_number().over(rn).alias("rn"),
        )
        .where(F.col("rn") >= SUB_W)
        .select("doc_id", "fp")
        .distinct()
    )
    # 2. candidate pairs from the sparse fingerprint join
    # posting-array pair emission, not a self-join (optimization round
    # 14 — the r13 _shared_shingle_pairs idiom): the aliased
    # fps⋈fps / cg⋈cg spellings planned the whole winnowing / gram
    # subtree once per side (Spark reuses exchanges only
    # opportunistically); grouping into a doc_id-sorted posting array
    # and inlining each unordered pair once keeps ONE lineage per
    # relation and one exchange on the key. Posting buffers are
    # bounded by the operator's own SUB_MAX_DOC(=500) cap. Output
    # proven row-identical at sf0.1 (263 pairs); 1.71 → 1.56 s.
    cand = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.expr(
                "inline(flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds) - i - 1), y ->"
                " struct(x AS doc_a, y AS doc_b)))))"
            )
        )
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select("doc_b"))
        .distinct()
    )
    # 3. exact verify over candidate docs only
    cg = grams.join(cand_docs, "doc_id", "left_semi")
    shared = (
        cg.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") >= 2)
        .select(
            F.expr(
                "inline(flatten(transform(ds, (x, i) ->"
                " transform(slice(ds, i + 2, size(ds) - i - 1), y ->"
                " struct(x AS doc_a, y AS doc_b)))))"
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    # inner-join against cand: drops nothing when the guarantee holds
    # (every truly-sharing pair IS a candidate); keeps the plan honest
    # if parameters are ever edited out of sync
    return shared.join(cand, ["doc_a", "doc_b"])


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


# ---------------------------------------------------------------------------
# exact-substring EXCISION — the Lee et al. 2022 pipeline's actual
# output: the corpus with duplicate spans REMOVED, not just the pair
# graph dedup_exact_substring detects (VERDICT r8 task 2)

#: shared CTE prefix for the two excise oracles: all SUB_L-grams →
#: keep-first duplicate marking → per-doc maximal removed spans
_EXCISE_ORACLE_SPANS = f"""
    WITH g AS (
        SELECT doc_id, i, md5(substr(text, CAST(i AS INT), {SUB_L})) AS h
        FROM documents,
             unnest(range(1, length(text) - {SUB_L} + 2)) AS t(i)
        WHERE length(text) >= {SUB_L}),
    dup AS (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   ROW_NUMBER() OVER (PARTITION BY h
                                      ORDER BY doc_id, i) AS rk
            FROM g) WHERE rk > 1),
    sp AS (
        SELECT doc_id, i,
               LAG(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
        FROM dup),
    isl AS (
        SELECT doc_id, i,
               SUM(CASE WHEN pi IS NULL OR i > pi + {SUB_L}
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY i) AS island
        FROM sp),
    spans AS (
        SELECT doc_id, island, MIN(i) AS s, MAX(i) + {SUB_L} - 1 AS e
        FROM isl GROUP BY doc_id, island)
"""


def _excise_spans(spark: SparkSession, sf_dir: str):
    """Shared body of the excision pair: per-doc maximal duplicate
    spans under the keep-first rule. Returns ``(docs, spans)`` where
    ``spans`` is (doc_id, island, s, e) — merged 1-based char
    intervals to remove.

    Semantics (engine-portable, fully deterministic): a SUB_L(=24)-char
    window is a DUPLICATE iff the same window content occurs earlier in
    corpus order — at a smaller (doc_id, position) pair — i.e. every
    gram's first occurrence is kept and all later ones are marked
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": remove all but one occurrence of each duplicated
    span; our canonical survivor is the corpus-order first). Marked
    windows merge into maximal spans (overlapping OR adjacent).

    Scale shape — winnowing-accelerated like ``dedup_exact_substring``:
    the corpus-wide duplicate ranking only ever needs docs that CAN
    contain a duplicated window, and the winnowing guarantee
    (Schleimer et al. 2003: any shared substring of length ≥ k+w−1 =
    SUB_L shares a selected fingerprint) plus the k-gram-multiplicity
    check (an intra-doc duplicated L-window duplicates its first
    k-gram at two positions) make the candidate gate a strict superset
    of those docs. Non-candidate docs never enter the gram shuffle —
    their grams are globally unique by construction, so gating loses
    nothing (the oracle, which ranks ALL grams directly, re-proves
    this corpus-wide every round). Remaining stages are doc-partitioned
    windows over dup rows only (≤ doc-length rows per partition); the
    one corpus-wide exchange is the gram hash ranking over candidate
    docs, the same budget the pair detector already pays.

    The candidate gate runs on xxhash64 LONGS: the gate is collision-TOLERANT — a hash
    collision only ever ADDS a candidate doc (more shared
    fingerprints, more apparent intra-doc repeats), never removes
    one, so the superset guarantee — and with it the oracle-proved
    output — is untouched while every gate row shrinks from a 32-char
    md5 string to 8 bytes and the hashing itself vectorizes ~3×
    cheaper. Only the VERIFY stage's duplicate ranking needs a
    collision-FREE content hash; it rides the 16-byte BINARY md5
    (:func:`_char_gram_hashes_bin` — same equality/order semantics as
    the hex form at half the shuffled key bytes). On a vanilla
    1 GiB session at 100× the md5-string gate OOM'd its
    sort/aggregate spill-merges (140M × 56B gram rows; each spill
    file's reader buffers ~1 MB of heap); the long-gram gate carries
    the same rows at 24 B. Docs are also REPARTITIONED by doc_id
    before every gram explosion, sized from the estimated gram volume
    (``adaptive_partitions`` with ``GRAM_EXPAND``): parquet
    splits size input tasks by FILE bytes, blind to the ~n_chars×
    explode amplification, so 500k docs arrived as ~4 tasks — the
    repartition also shuffles megabytes of documents instead of
    gigabytes of grams and pre-satisfies every doc-partitioned
    window downstream (a first row-local-array redesign of this gate
    avoided the explode entirely but paid ~10× in interpreted HOF
    time; the long-explode form keeps whole-stage codegen)."""
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    d = load_table(spark, sf_dir, "documents").repartition(
        adaptive_partitions(spark, sf_dir, "documents", expand=GRAM_EXPAND),
        "doc_id",
    )
    starts = F.sequence(F.lit(1), F.length("text") - SUB_K + 1)
    kg = (
        d.where(F.length("text") >= SUB_K)
        .select("doc_id", F.explode(starts).alias("i"), "text")
        .select(
            "doc_id",
            "i",
            F.xxhash64(F.substr("text", F.col("i"), F.lit(SUB_K))).alias("h"),
        )
    )
    # ONE linear pass computes BOTH candidate signals (optimization
    # round 14, guide §2.4): the old plan branched kg into a fps
    # subtree and an intra-count subtree, and Spark re-ran the whole
    # gram explode per branch (~12 s CPU each at sf0.1, profiled).
    # All three windows below are satisfied by the existing doc_id
    # hash partitioning ({doc_id,h} ⊇ {doc_id}), so the fused form is
    # explode-once, exchange-free until the (doc_id, fp) distinct:
    # per-row k-gram multiplicity rides as ``rep`` next to the
    # winnowing min/row_number, and the per-DOC intra flag is a
    # max-over-doc window on the same partitioning. A doc with
    # SUB_K ≤ len < SUB_L has no rn ≥ SUB_W row to carry its flag,
    # but it also has no SUB_L-grams — it contributed nothing to the
    # verify join under the old gate either (spans proven identical
    # at sf0.1, 10856 rows).
    win = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(SUB_W - 1), 0)
    rn = W.partitionBy("doc_id").orderBy("i")
    sel = (
        kg.select(
            "doc_id",
            F.min("h").over(win).alias("fp"),
            F.row_number().over(rn).alias("rn"),
            (F.count(F.lit(1)).over(W.partitionBy("doc_id", "h")) >= 2)
            .cast("int")
            .alias("rep"),
        )
        .select(
            "doc_id",
            "fp",
            "rn",
            F.max("rep").over(W.partitionBy("doc_id")).alias("intra"),
        )
        .where(F.col("rn") >= SUB_W)
        .select("doc_id", "fp", "intra")
        .distinct()
    )
    # candidates: docs sharing a selected fingerprint with another doc
    # (count over the fp partition of the distinct (doc, fp) rows ≥ 2)
    # or with an intra-doc k-gram repeat — same gate, no union/semi-join
    cand = (
        sel.select(
            "doc_id",
            "intra",
            F.count(F.lit(1)).over(W.partitionBy("fp")).alias("nd"),
        )
        .where((F.col("nd") >= 2) | (F.col("intra") == 1))
        .select("doc_id")
        .distinct()
    )
    # binary md5 (h internal to the ranking — _char_gram_hashes_bin)
    g = _char_gram_hashes_bin(d.join(cand, "doc_id", "left_semi"), SUB_L)
    rk = F.row_number().over(W.partitionBy("h").orderBy("doc_id", "i"))
    dup = (
        g.select("doc_id", "i", rk.alias("rk"))
        .where(F.col("rk") > 1)
        .select("doc_id", "i")
    )
    lagw = W.partitionBy("doc_id").orderBy("i")
    sp = dup.select("doc_id", "i", F.lag("i").over(lagw).alias("pi"))
    new_island = F.when(
        F.col("pi").isNull() | (F.col("i") > F.col("pi") + SUB_L), 1
    ).otherwise(0)
    isl = sp.select(
        "doc_id",
        "i",
        F.sum(new_island)
        .over(lagw.rowsBetween(W.unboundedPreceding, 0))
        .alias("island"),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("i").alias("s"), (F.max("i") + SUB_L - 1).alias("e")
    )
    return d, spans


@query(
    "dedup_substring_excise",
    oracle=_EXCISE_ORACLE_SPANS
    + """,
    census AS (
        SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n_removed,
               CAST(COUNT(*) AS BIGINT) AS n_spans
        FROM spans GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS n_chars,
           CAST(COALESCE(c.n_removed, 0) AS BIGINT) AS n_removed_chars,
           CAST(length(d.text) - COALESCE(c.n_removed, 0) AS BIGINT)
               AS n_kept_chars,
           CAST(COALESCE(c.n_spans, 0) AS BIGINT) AS n_dup_spans
    FROM documents d LEFT JOIN census c USING (doc_id)
    """,
    tags=("pipeline", "dedup", "excision", "llm-pipeline"),
)
def dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept-byte census of exact-substring excision: per document, how
    many chars survive removing every duplicate SUB_L-window (merged to
    maximal spans, keep-first rule — see :func:`_excise_spans`). This
    is the operator a training-data pipeline gates on ("how much of my
    corpus is duplicated text?") and the driver-checkable face of the
    corpus materialization in ``dedup_substring_excise_text``. The
    oracle recomputes the census INDEPENDENTLY from all grams (no
    fingerprint gating), so the winnowing candidate superset is
    re-proved corpus-wide by the hash compare. Emits one row per doc
    including untouched docs (n_removed_chars = 0)."""
    d, spans = _excise_spans(spark, sf_dir)
    census = spans.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("nr"),
        F.count(F.lit(1)).cast("bigint").alias("ns"),
    )
    n_chars = F.length("text").cast("bigint")
    rem = F.coalesce(F.col("nr"), F.lit(0)).cast("bigint")
    return (
        d.select("doc_id", "text")
        .join(census, "doc_id", "left")
        .select(
            "doc_id",
            n_chars.alias("n_chars"),
            rem.alias("n_removed_chars"),
            (n_chars - rem).cast("bigint").alias("n_kept_chars"),
            F.coalesce(F.col("ns"), F.lit(0)).cast("bigint").alias("n_dup_spans"),
        )
    )


@query(
    "dedup_substring_excise_text",
    oracle=_EXCISE_ORACLE_SPANS
    + """,
    last AS (SELECT doc_id, MAX(e) AS le FROM spans GROUP BY doc_id),
    segs AS (
        SELECT doc_id,
               COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s) + 1,
                        1) AS ks,
               s - 1 AS ke
        FROM spans
        UNION ALL
        SELECT l.doc_id, l.le + 1 AS ks, length(d.text) AS ke
        FROM last l JOIN documents d USING (doc_id)),
    kept AS (
        SELECT s.doc_id,
               string_agg(substr(d.text, CAST(s.ks AS INT),
                                 CAST(s.ke - s.ks + 1 AS INT)),
                          '' ORDER BY s.ks) AS kept_text
        FROM segs s JOIN documents d USING (doc_id)
        WHERE s.ke >= s.ks GROUP BY s.doc_id)
    SELECT d.doc_id,
           CASE WHEN l.doc_id IS NULL THEN d.text
                ELSE COALESCE(k.kept_text, '') END AS kept_text
    FROM documents d
    LEFT JOIN last l USING (doc_id)
    LEFT JOIN kept k USING (doc_id)
    """,
    tags=("pipeline", "dedup", "excision", "llm-pipeline"),
)
def dedup_substring_excise_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED deduplicated corpus — Lee et al. 2022's actual
    pipeline output: each document's text with its duplicate spans cut
    out (keep-first rule, maximal merged spans — :func:`_excise_spans`).
    Kept segments are the complement intervals of the removed spans;
    they are rebuilt with pure built-in functions — each doc's merged
    spans are collapsed to ONE sorted array row, joined to the corpus
    once, and the complement concat is a single ``aggregate`` fold
    over that array — no UDF, per-doc state bounded by doc length,
    never corpus size. Crucially the expensive spans sub-DAG (the
    winnowing gram ranking of :func:`_excise_spans`) appears exactly
    ONCE in the plan: the first cut of this operator referenced spans
    from three branches (lead segments / tail segment / touched-doc
    probe) and Spark re-evaluated the whole ranking per branch — ~3×
    the census runtime for the same answer (measured 10.0 s at sf0.1
    before this re-plan). A doc whose every window is a later
    duplicate excises to the empty string; untouched docs (no spans
    row) pass through verbatim. The oracle reconstructs the same
    strings from the direct all-grams ranking with ordered
    ``string_agg``, so the driver hash-compares the full cleaned
    corpus byte-for-byte."""
    d, spans = _excise_spans(spark, sf_dir)
    spans_arr = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("s").cast("bigint").alias("s"),
                    F.col("e").cast("bigint").alias("e"),
                )
            )
        ).alias("sp")
    )
    # one fold per doc: walk the sorted removed spans, emitting the gap
    # before each span, then the tail after the last one. substring()
    # with a non-positive length yields '' (first span at pos 1, or a
    # span ending exactly at the doc tail), so no edge branches needed.
    kept = F.expr(
        """
        CASE WHEN sp IS NULL THEN text ELSE aggregate(
            sp,
            named_struct('pos', CAST(1 AS BIGINT), 'acc', ''),
            (a, x) -> named_struct(
                'pos', x.e + CAST(1 AS BIGINT),
                'acc', concat(a.acc, substring(text, CAST(a.pos AS INT),
                                               CAST(x.s - a.pos AS INT)))),
            a -> concat(a.acc,
                        substring(text, CAST(a.pos AS INT),
                                  CAST(length(text) - a.pos + 1 AS INT))))
        END
        """
    ).alias("kept_text")
    return (
        d.select("doc_id", "text")
        .join(spans_arr, "doc_id", "left")
        .select("doc_id", kept)
    )
