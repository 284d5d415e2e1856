"""Training-data preparation operators (LLM-pipeline surface beyond the
reference's transport layer).

Complements dedup.py / similarity.py / text.py with the remaining
stages a 100 TB corpus build needs: deterministic sampling and
train/val/test splitting (with the leakage audit), quality and
blocklist filtering, domain mixing (weights, temperature scaling,
token-budget allocation), sequence packing, length trimming, shard
manifests and balance, negative sampling, and the dataset card.

Determinism discipline: sampling and splits key on `id % k`, never on
`rand()` — the same row lands in the same split on any cluster, any
partitioning, any engine (rand() is neither reproducible across
engines nor stable under retries/speculative execution at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import grouped_scan, ntile_closed_form
from watermill_kinesis_spark.functions.localrel import local_relation
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


@query(
    "corpus_shuffle_hash",
    oracle="""
    SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
           ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS shuffle_pos
    FROM documents
    WHERE doc_id < 2000
    """,
    tags=("pipeline", "sampling", "llm-pipeline"),
)
def corpus_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training order: order by a
    cryptographic hash of the document id — statistically a random
    permutation, yet identical on every engine, run, and cluster size
    (rand()-based shuffles are neither reproducible nor safe under task
    retries). The global position is assigned WITHOUT a single-partition
    window: md5's first byte range-buckets rows into 256 fixed,
    data-independent ranges; each bucket numbers its rows in parallel,
    and per-bucket offsets (a 256-row driver-side cumsum — constant in
    corpus size) lift local numbers to global positions. At 100 TB,
    widen to more hex chars for more buckets; no sampling, no skew (the
    hash is uniform by construction)."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 2000)
    key = F.md5(F.col("doc_id").cast("string"))
    bucket = F.conv(F.substring(key, 1, 2), 16, 10).cast("int")
    rows = d.select(
        "doc_id", key.alias("shuffle_key"), bucket.alias("bucket")
    )
    w = W.partitionBy("bucket").orderBy("shuffle_key", "doc_id")
    numbered = rows.withColumn("rn", F.row_number().over(w))
    counts = sorted(
        (r.bucket, r.n)
        for r in rows.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for b, n in counts:
        offsets.append((b, acc))
        acc += n
    off = F.broadcast(
        local_relation(numbered.sparkSession, offsets, "bucket int, offset long")
    )
    return (
        numbered.join(off, "bucket")
        .select(
            "doc_id",
            "shuffle_key",
            (F.col("offset") + F.col("rn")).alias("shuffle_pos"),
        )
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


# ---------------------------------------------------------------------------
# composite corpus-cleaning pipeline


@query(
    "quality_filter_pipeline",
    oracle="""
    WITH staged AS (
        SELECT source, lang, n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_uniq,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g')) AS norm_text
        FROM documents),
    flagged AS (
        SELECT source, norm_text,
               (lang = 'en' AND n_tokens BETWEEN 10 AND 1000
                AND n_uniq * 10 >= n_tokens * 3) AS pass
        FROM staged)
    SELECT source,
           COUNT(*) AS n_input,
           COUNT(*) FILTER (pass) AS n_pass_filters,
           COUNT(DISTINCT norm_text) FILTER (pass) AS n_after_dedup
    FROM flagged
    GROUP BY source
    """,
    tags=("pipeline", "quality", "dedup", "llm-pipeline"),
)
def quality_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite corpus-cleaning funnel in ONE pass: language
    filter → length gate → lexical-diversity gate (unique-token ratio
    ≥ 0.3, the classic gopher-style repetition screen) → exact dedup on
    normalized text, reported as per-source survival counts. Expressed
    as conditional aggregates over a single scan, so the full funnel
    costs one shuffle (the groupBy) no matter how many stages — the
    shape to preserve at 100 TB, where each stage as a separate
    materialized pass would re-read the corpus. The diversity ratio
    compares n_uniq·10 ≥ n_tokens·3 in INTEGER space — no float
    division anywhere, so engines can't disagree on the boundary."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    staged = d.select(
        "source",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        norm.alias("norm_text"),
    )
    passes = (
        (F.col("lang") == "en")
        & F.col("n_tokens").between(10, 1000)
        & (F.col("n_uniq") * 10 >= F.col("n_tokens") * 3)
    )
    flagged = staged.select("source", "norm_text", passes.alias("pass"))
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_input"),
        F.count(F.when(F.col("pass"), 1)).alias("n_pass_filters"),
        F.countDistinct(F.when(F.col("pass"), F.col("norm_text"))).alias(
            "n_after_dedup"
        ),
    )


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


# ---------------------------------------------------------------------------
# temperature-scaled domain mixing


@query(
    "domain_mix_temperature",
    oracle="""
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           SQRT(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE)) AS temp_weight,
           1.0 / SQRT(CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE))
               AS upsample_factor
    FROM (SELECT source, COUNT(*) AS n_docs, SUM(COUNT(*)) OVER () AS total
          FROM documents GROUP BY source)
    """,
    tags=("agg", "sampling", "llm-pipeline"),
)
def domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (τ = 1/2): sampling weights
    ∝ share^τ flatten the domain distribution without going fully
    uniform — the mT5/LLaMA-style mixture policy, complementing
    domain_mix_weights' uniform target. τ = 1/2 is chosen deliberately:
    share is an exact integer ratio and SQRT is correctly rounded in
    IEEE-754, so every value is bit-identical across engines with no
    cross-row float summation anywhere (the final Σ-normalization over
    |domains| weights is a serving-time constant, not a data-scale
    operation). One aggregate pass; the global total is a window over
    the |domains|-row aggregate, not the data."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    total = F.sum("n_docs").over(W.partitionBy())
    share = F.col("n_docs").cast("double") / total.cast("double")
    return per.select(
        "source",
        "n_docs",
        share.alias("share"),
        F.sqrt(share).alias("temp_weight"),
        (F.lit(1.0) / F.sqrt(share)).alias("upsample_factor"),
    )


# ---------------------------------------------------------------------------
# water-filling token-budget allocation

#: global token budget to allocate across sources (chosen ≈ half the
#: sf0.01 corpus so the water level is genuinely binding)
TOKEN_BUDGET = 20000


@query(
    "token_budget_allocation",
    oracle=f"""
    WITH src AS (
        SELECT source, SUM(len(string_split(text, ' '))) AS n_tokens
        FROM documents GROUP BY source),
    ranked AS (
        SELECT source, n_tokens,
               ROW_NUMBER() OVER (ORDER BY n_tokens, source) AS r,
               COUNT(*) OVER () AS m,
               SUM(n_tokens) OVER (ORDER BY n_tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM src),
    pv AS (
        SELECT COALESCE(MAX(CASE WHEN p + (m - r) * n_tokens <= {TOKEN_BUDGET}
                                 THEN r END), 0) AS k,
               COALESCE(MAX(CASE WHEN p + (m - r) * n_tokens <= {TOKEN_BUDGET}
                                 THEN p END), 0) AS pk,
               MAX(m) AS m
        FROM ranked),
    level AS (
        SELECT CASE WHEN k >= m THEN CAST({TOKEN_BUDGET} AS DOUBLE)
                    ELSE CAST({TOKEN_BUDGET} - pk AS DOUBLE) / CAST(m - k AS DOUBLE)
               END AS c
        FROM pv)
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN CAST(n_tokens AS DOUBLE) <= c
                THEN CAST(n_tokens AS DOUBLE) ELSE c END AS alloc_tokens,
           CASE WHEN CAST(n_tokens AS DOUBLE) <= c THEN CAST(1.0 AS DOUBLE)
                ELSE c / CAST(n_tokens AS DOUBLE) END AS keep_fraction
    FROM src CROSS JOIN level
    """,
    tags=("sampling", "agg", "llm-pipeline"),
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling allocation of a global token budget across
    sources: small domains keep everything, large domains are capped at
    a common water level c chosen so Σ min(tokens_i, c) = budget — the
    fairness rule behind budgeted corpus construction (don't let one
    crawl drown the mixture; don't starve niche domains). The pivot
    search and prefix sums are exact integers over the |sources|-row
    aggregate (windows over ~20 rows, not data); c is the single
    division, shared text with the oracle. At 100 TB the only
    data-scale work is the per-source token count — one map-side
    combined aggregate."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).alias("n_tokens")
    )
    w_ord = W.partitionBy().orderBy(F.col("n_tokens").asc(), F.col("source").asc())
    ranked = src.select(
        "source",
        "n_tokens",
        F.row_number().over(w_ord).alias("r"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("m"),
        F.sum("n_tokens")
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("p"),
    )
    fits = F.col("p") + (F.col("m") - F.col("r")) * F.col("n_tokens") <= TOKEN_BUDGET
    pivot = ranked.agg(
        F.coalesce(F.max(F.when(fits, F.col("r"))), F.lit(0)).alias("k"),
        F.coalesce(F.max(F.when(fits, F.col("p"))), F.lit(0)).alias("pk"),
        F.max("m").alias("m"),
    )
    level = pivot.select(
        F.when(
            F.col("k") >= F.col("m"), F.lit(float(TOKEN_BUDGET))
        )
        .otherwise(
            (F.lit(TOKEN_BUDGET) - F.col("pk")).cast("double")
            / (F.col("m") - F.col("k")).cast("double")
        )
        .alias("c")
    )
    nt = F.col("n_tokens").cast("double")
    return src.crossJoin(F.broadcast(level)).select(
        "source",
        "n_tokens",
        F.when(nt <= F.col("c"), nt).otherwise(F.col("c")).alias("alloc_tokens"),
        F.when(nt <= F.col("c"), F.lit(1.0))
        .otherwise(F.col("c") / nt)
        .alias("keep_fraction"),
    )


# ---------------------------------------------------------------------------
# domain blocklist filtering (crawl-policy gate)

#: the policy table: registrable-suffix entries. A host is blocked iff
#: it equals an entry or is a subdomain of one (label-boundary suffix
#: match — 'notsrc3.example.com' must NOT match 'src3.example.com').
BLOCKLIST = (
    "src3.example.com",
    "src7.example.com",
    "example.org",
    "cdn.src1.example.com",
)

#: shared host synthesis (three subdomain depths, two TLDs) so the
#: oracle rebuilds the identical input
_HOST_SQL = """
    CASE WHEN doc_id % 3 = 0 THEN 'cdn.' || source || '.example.com'
         WHEN doc_id % 3 = 1 THEN source || '.example.com'
         ELSE 'm.' || source || '.example.org' END
"""


@query(
    "domain_blocklist_filter",
    oracle=f"""
    WITH hosts AS (
        SELECT doc_id, {_HOST_SQL} AS host FROM documents)
    SELECT h.doc_id, h.host,
           CAST(COUNT(b.entry) > 0 AS INT) AS is_blocked,
           MIN(b.entry) AS rule
    FROM hosts h
    LEFT JOIN (
        SELECT unnest(['{"','".join(BLOCKLIST)}']) AS entry) b
      ON h.host = b.entry OR h.host LIKE '%.' || b.entry
    GROUP BY h.doc_id, h.host
    """,
    tags=("pipeline", "governance", "llm-pipeline"),
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-policy domain filtering with label-boundary suffix
    matching: every host is expanded to its dot-suffix chain
    (``cdn.src1.example.com`` → itself, ``src1.example.com``,
    ``example.com``, ``com`` — ≤ |labels| entries, a constant) and
    joined against the broadcast blocklist on EQUALITY. That turns the
    oracle's O(hosts × rules) LIKE scan into a hash join whose build
    side is the KB-scale policy table — the only formulation that
    survives a 100 TB crawl with a few thousand rules: work is
    O(hosts · avg_labels), rules never scan. The emitted flag + first
    matching rule are value-checked against the LIKE spelling."""
    d = load_table(spark, sf_dir, "documents")
    hosts = d.select("doc_id", F.expr(_HOST_SQL.strip()).alias("host"))
    suffixes = hosts.withColumn("labs", F.split("host", "\\.")).select(
        "doc_id",
        "host",
        F.explode(
            F.expr(
                """
                transform(sequence(0, size(labs) - 1),
                          i -> array_join(slice(labs, i + 1, 99), '.'))
                """
            )
        ).alias("sfx"),
    )
    rules = local_relation(spark, [(e,) for e in BLOCKLIST], "entry string")
    matched = suffixes.join(
        F.broadcast(rules), suffixes.sfx == rules.entry, "left"
    )
    return matched.groupBy("doc_id", "host").agg(
        (F.count("entry") > 0).cast("int").alias("is_blocked"),
        F.min("entry").alias("rule"),
    )


# ---------------------------------------------------------------------------
# training shard manifest (global prefix-sum sharding)

#: target tokens per output shard
SHARD_TOKENS = 10_000


@query(
    "training_shard_manifest",
    oracle=f"""
    WITH ordered AS (
        SELECT doc_id,
               len(string_split(trim(text), ' ')) AS n_tokens,
               SUM(len(string_split(trim(text), ' '))) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING) AS tokens_before
        FROM documents),
    assigned AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(tokens_before, 0) // {SHARD_TOKENS} AS BIGINT)
                   AS shard_id
        FROM ordered)
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM assigned GROUP BY shard_id
    """,
    tags=("pipeline", "corpus", "llm-pipeline"),
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SHARD MANIFEST — the last artifact before training shards
    are written (webdataset/arrayrecord style): documents in a
    deterministic order are cut into ~10k-token shards by their global
    token prefix-sum, and the manifest records each shard's doc count,
    token mass, and id range (what the dataloader actually consumes).
    The global prefix-sum is :func:`grouped_scan`'s running sum with
    no group columns — NO single-partition window, so the same plan
    cuts a 100 TB corpus.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim("text"), " ")).alias("n_tokens")
    )
    scan, _ = grouped_scan(d, [], [F.col("doc_id")], sum_cols=["n_tokens"])
    tokens_before = (F.col("cum_n_tokens") - F.col("n_tokens")).cast("bigint")
    assigned = scan.select(
        "doc_id",
        "n_tokens",
        (tokens_before / F.lit(SHARD_TOKENS)).cast("bigint").alias("shard_id"),
    )
    return assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# word2vec-style 3/4-power negative sampling (deterministic, no RNG)

#: per-occurrence uniform draw resolution (bits). 12 keeps the exact
#: acceptance comparison u⁴·cmax³ < 2⁴⁸·c³ inside DECIMAL(38,0) up to
#: cmax ≈ 7·10⁷ occurrences of the most frequent token.
NEG_DRAW_BITS = 12


@query(
    "negative_sampling_power75",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents WHERE text IS NOT NULL),
    occ AS (SELECT doc_id, i, w[i] AS tok
            FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
                  FROM toks)),
    c AS (SELECT tok, COUNT(*) AS c FROM occ GROUP BY tok),
    mx AS (SELECT MAX(c) AS cmax FROM c),
    drawn AS (
        SELECT o.tok, c.c, mx.cmax,
               CAST(('0x' || substr(md5(CAST(o.doc_id AS VARCHAR) || ':'
                                        || CAST(o.i AS VARCHAR)), 1, 3))
                    AS BIGINT) AS u
        FROM occ o JOIN c ON o.tok = c.tok CROSS JOIN mx),
    acc AS (
        SELECT tok, c,
               COUNT(*) AS n_occ,
               COUNT_IF(CAST(u AS HUGEINT) * u * u * u
                        * (CAST(cmax AS HUGEINT) * cmax * cmax)
                        < CAST({1 << (4 * NEG_DRAW_BITS)} AS HUGEINT)
                          * (CAST(c AS HUGEINT) * c * c)) AS n_neg
        FROM drawn GROUP BY tok, c)
    SELECT tok, CAST(c AS BIGINT) AS c,
           CAST(n_occ AS BIGINT) AS n_occ,
           CAST(n_neg AS BIGINT) AS n_negatives,
           CAST(1000 * n_neg // n_occ AS BIGINT) AS accept_permille
    FROM acc ORDER BY tok
    """,
    tags=("pipeline", "sampling", "text", "llm-pipeline"),
)
def negative_sampling_power75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec noise distribution, materialized: sample token
    OCCURRENCES with probability (c/cmax)^¾ — Mikolov et al.'s
    unigram^0.75 damping, which keeps frequent tokens from swamping
    the negative pool while still favoring them. No RNG and no
    fractional power anywhere: each occurrence draws a deterministic
    md5-derived {NEG_DRAW_BITS}-bit uniform u (the ``sample_weighted``
    convention — retry-safe at scale, identical across engines), and
    u/2^b < (c/cmax)^¾ is raised to the 4th power into the EXACT
    integer comparison u⁴·cmax³ < 2^(4b)·c³ in DECIMAL(38,0) ↔
    HUGEINT. Emitted per token: unigram count, occurrences, accepted
    negatives, and the realized accept rate — every value exact.

    Plan: one posexplode over the corpus (the occurrence relation),
    a vocabulary-count aggregate joined back via shuffle_hash (the
    corpus-dictionary rule: never broadcast a token-keyed build
    side), a scalar cmax broadcast, and one per-token aggregate. Work
    scales with token occurrences — the same as any tokenize pass."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("w"))
    )
    occ = d.select(
        "doc_id", F.posexplode("w").alias("i0", "tok")
    ).select("doc_id", (F.col("i0") + 1).alias("i"), "tok")
    c = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    mx = c.agg(F.max("c").alias("cmax"))
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("i").cast("string"),
                )
            ),
            1,
            3,
        ),
        16,
        10,
    ).cast("long")
    drawn = (
        occ.join(c.hint("shuffle_hash"), "tok")
        .crossJoin(F.broadcast(mx))
        .select("tok", "c", "cmax", u.alias("u"))
    )
    acc = drawn.groupBy("tok", "c").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.count_if(
            F.expr(
                "CAST(u AS DECIMAL(38,0)) * u * u * u"
                " * (CAST(cmax AS DECIMAL(38,0)) * cmax * cmax)"
                f" < CAST({1 << (4 * NEG_DRAW_BITS)} AS DECIMAL(38,0))"
                "   * (CAST(c AS DECIMAL(38,0)) * c * c)"
            )
        ).alias("n_neg"),
    )
    return acc.selectExpr(
        "tok",
        "CAST(c AS BIGINT) AS c",
        "CAST(n_occ AS BIGINT) AS n_occ",
        "CAST(n_neg AS BIGINT) AS n_negatives",
        "CAST(1000 * n_neg div n_occ AS BIGINT) AS accept_permille",
    ).orderBy("tok")


#: trim fraction per tail for length_trim_percentile (5% ⇒ inner 90%)
TRIM_PCT = 5


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


# ---------------------------------------------------------------------------
# domain mixture weights (corpus-mixing sampling ratios)


@query(
    "domain_mix_weights",
    oracle="""
    SELECT source, n_docs,
           CAST(n_docs AS DOUBLE) / total AS share,
           (1.0 / ndom) / (CAST(n_docs AS DOUBLE) / total) AS mix_weight
    FROM (SELECT source, COUNT(*) AS n_docs,
                 SUM(COUNT(*)) OVER () AS total,
                 COUNT(*) OVER () AS ndom
          FROM documents GROUP BY source)
    """,
    tags=("agg", "sampling", "llm-pipeline"),
)
def domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights to rebalance a corpus toward a
    uniform domain mixture: weight = target_share / actual_share, the
    multiplier a mixing job applies when sampling each domain (Pile /
    DoReMi-style static mixture table). One full-data aggregate down to
    |domains| rows; the global total/count come from an unpartitioned
    window over that tiny aggregate (a single-partition exchange of 20
    rows, not data). Ratios are exact-integer divisions written
    identically in the oracle."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = W.partitionBy()
    total = F.sum("n_docs").over(w)
    ndom = F.count(F.lit(1)).over(w)
    share = F.col("n_docs").cast("double") / total
    return per.select(
        "source",
        "n_docs",
        share.alias("share"),
        ((F.lit(1.0) / ndom) / share).alias("mix_weight"),
    )


@query(
    "dataset_card_report",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(trim(text), ' '))) AS BIGINT)
               AS total_tokens,
           CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS median_chars,
           CAST(COUNT(*) FILTER (WHERE lang = 'en') * 1000000 // COUNT(*)
                AS BIGINT) AS en_share_ppm
    FROM documents GROUP BY source
    """,
    tags=("reporting", "llm-pipeline"),
)
def dataset_card_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-source DATASET CARD — the datasheet row every corpus
    release ships (docs, token volume, length profile, language share)
    and the input to mixing-weight decisions. One scan: counts, token
    totals and the exact integer ppm language share are a single
    map-side-combinable aggregate; the median is the per-group rank
    selection (partitioned window — parallel per source, identical
    discrete index to the oracle's quantile_disc)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim("text"), " "))
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("bigint").alias("total_tokens"),
        F.floor(
            F.count(F.when(F.col("lang") == "en", 1)) * 1_000_000
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("en_share_ppm"),
    )
    w = W.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy("source")).alias("n"),
    )
    med = ranked.where(
        F.col("rk") == F.floor((F.col("n") - 1) / 2).cast("long") + 1
    ).select("source", F.col("n_chars").cast("bigint").alias("median_chars"))
    return base.join(med, "source").select(
        "source", "n_docs", "total_tokens", "median_chars", "en_share_ppm"
    )


@query(
    "quantile_bucket_stats",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, n_chars,
               ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER () AS n
        FROM documents),
    tiled AS (
        SELECT doc_id, n_chars,
               -- NTILE(8) in closed form over the global rank: the
               -- first (n % 8) buckets take (n//8 + 1) rows each
               CASE WHEN rk <= (n // 8 + 1) * (n % 8)
                    THEN CAST(ceil(rk / (n // 8 + 1.0)) AS INT)
                    ELSE CAST((n % 8) + ceil((rk - (n // 8 + 1) * (n % 8))
                                             / (n // 8 * 1.0)) AS INT)
               END AS bucket
        FROM ranked)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM tiled GROUP BY bucket
    """,
    tags=("statistics", "pipeline", "llm-pipeline"),
)
def quantile_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucketing by document length — the quantile-binning
    step before per-band curriculum mixing or length-stratified
    sampling: 8 equal-population bands with boundaries and mass,
    NTILE semantics (first n%8 buckets take one extra row) written in
    closed form over the global rank. The rank comes from
    :func:`grouped_scan` with no group columns — NO global
    single-partition window anywhere, so the same plan holds at
    100 TB. The (n_chars, doc_id) composite key makes assignment
    deterministic in both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked, totals = grouped_scan(d, [], [F.col("n_chars"), F.col("doc_id")])
    n = totals[()]["n"] if totals else 0
    tiled = ranked.select(
        "n_chars",
        ntile_closed_form(F.col("rn"), F.lit(n), 8).cast("int").alias("bucket"),
    )
    return tiled.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").cast("bigint").alias("min_chars"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
