"""Pipeline wave 7: collocation mining (log-free PMI) and
water-filling token-budget allocation.

Same determinism discipline as the other waves: floats are single
divisions of exact integers with expression text shared with the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.distscan import grouped_scan
from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.textexpr import bigram_structs
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

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
    # per element access otherwise (SCALE.md round-9 wave 2)
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
    # broadcastable (the ngram_novelty_score OOM class, SCALE.md round
    # 9: serialized size can sit under the broadcast threshold while
    # the deserialized hash build blows the driver). shuffle_hash keeps
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
# BPE-style pair counting (the inner loop of tokenizer training)

#: result size for bpe_pair_counts
BPE_TOP_N = 50


@query(
    "bpe_pair_counts",
    oracle=f"""
    WITH tok AS (
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        WHERE length(t) >= 2
        GROUP BY t),
    pairs AS (
        SELECT substring(token, CAST(i AS INT), 2) AS pair, freq
        FROM tok, unnest(range(1, length(token))) AS r(i)),
    counts AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
        FROM pairs GROUP BY pair)
    SELECT pair, n FROM counts
    ORDER BY n DESC, pair LIMIT {BPE_TOP_N}
    """,
    tags=("text", "tokenizer", "llm-pipeline"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding pair statistics — the exact computation a BPE
    tokenizer trainer runs every merge iteration: count adjacent symbol
    pairs across the corpus weighted by word frequency, pick the top
    pair to merge. Here: top-50 (BPE_TOP_N) character bigrams inside
    whitespace words.

    Scale shape (this is why BPE training parallelizes): the corpus
    collapses to the *frequency-weighted vocabulary* in the first
    aggregate — pair extraction then runs over |vocab| rows, not
    |corpus| rows, which is the difference between re-scanning 100 TB
    per merge and re-scanning megabytes. Pair explosion is a JVM
    higher-order transform (no Python); counts are exact BIGINTs. A
    full trainer loops this query with the chosen merge applied to the
    vocab — each iteration touches only the |vocab|-sized table."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.length("token") >= 2)
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # substring with a dynamic start needs the SQL spelling; transform
    # yields the per-position 2-char slice JVM-side
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(token) - 1),"
                " i -> substring(token, i, 2))"
            )
        ).alias("pair"),
        "freq",
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("n")
    )
    return counts.orderBy(F.desc("n"), F.asc("pair")).limit(BPE_TOP_N)


# ---------------------------------------------------------------------------
# span-corruption mask generation (T5/UL2-style denoising prep)

#: tokens per mask block, span length, and the two mixing constants of
#: the per-(doc, block) span-offset hash — all pure integer arithmetic
#: so the mask layout is reproducible on any engine
SPAN_BLOCK = 20
SPAN_LEN = 3
SPAN_MIX_A = 2654435761  # Knuth multiplicative constant
SPAN_MIX_B = 40503


@query(
    "span_corruption_masks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents),
    d AS (SELECT doc_id, n_tokens, n_tokens // {SPAN_BLOCK} AS n_spans FROM t),
    spans AS (
        SELECT doc_id,
               b * {SPAN_BLOCK}
                 + (doc_id * {SPAN_MIX_A} + b * {SPAN_MIX_B})
                   % 2147483648 % {SPAN_BLOCK - SPAN_LEN + 1} AS start
        FROM d, unnest(range(n_spans)) AS r(b))
    SELECT d.doc_id, d.n_tokens,
           CAST(d.n_spans AS BIGINT) AS n_spans,
           CAST(d.n_spans * {SPAN_LEN} AS BIGINT) AS n_masked,
           CAST(COALESCE(SUM(s.start), 0) AS BIGINT) AS span_start_sum
    FROM d LEFT JOIN spans s USING (doc_id)
    GROUP BY d.doc_id, d.n_tokens, d.n_spans
    """,
    tags=("tokenizer", "training-prep", "llm-pipeline"),
)
def span_corruption_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span-corruption mask layout, deterministically
    derived from (doc_id, block) integer hashing: every full 20-token
    (SPAN_BLOCK) block masks one 3-token (SPAN_LEN) span whose offset
    is ``(doc_id·A + block·B) mod 2³¹ mod 18`` — non-overlapping by
    construction, ~15% mask rate, and reproducible bit-for-bit on any
    engine or replica (a denoising objective must present the same
    corruption for the same document on every epoch and every worker).

    The Spark side *materializes* each span (sequence → transform →
    explode of real start indices) and aggregates count + start-sum;
    the oracle recomputes the same arithmetic independently — agreement
    verifies every span position, not just the counts. One scan, one
    shuffle on doc_id; span generation is JVM higher-order functions,
    mask metadata is 24 bytes/doc regardless of document size."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    d = d.withColumn(
        "n_spans", F.expr(f"CAST(n_tokens DIV {SPAN_BLOCK} AS BIGINT)")
    )
    spans = d.where(F.col("n_spans") > 0).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(n_spans AS INT) - 1),"
                f" b -> CAST(b AS BIGINT) * {SPAN_BLOCK}"
                f" + (doc_id * {SPAN_MIX_A} + CAST(b AS BIGINT) * {SPAN_MIX_B})"
                f" % 2147483648 % {SPAN_BLOCK - SPAN_LEN + 1})"
            )
        ).alias("start"),
    )
    sums = spans.groupBy("doc_id").agg(
        F.sum("start").cast("bigint").alias("span_start_sum")
    )
    return d.join(sums, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.col("n_spans").cast("bigint").alias("n_spans"),
        (F.col("n_spans") * SPAN_LEN).cast("bigint").alias("n_masked"),
        F.coalesce("span_start_sum", F.lit(0)).cast("bigint").alias("span_start_sum"),
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
