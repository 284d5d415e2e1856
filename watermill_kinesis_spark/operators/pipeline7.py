"""Pipeline wave 7 (round 9): skip-gram co-occurrence mining, Welch
two-sample drift auditing, and per-document lexical diversity.

The reference has no relational surface at all (SURVEY.md §2-B); these
are Layer-B LLM-corpus operators extending the driver's north star.
Cross-engine determinism discipline (see pipeline6): exact integer
counts wherever possible; where a statistic is irreducibly real-valued
(Welch t²) BOTH engines evaluate the same double expression from the
same exact bigint moments — single IEEE-754 expression, no decimal
literals (bare ``2.2`` parses as DECIMAL in both engines and rounds
differently than double; e-notation only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.textexpr import bigram_structs
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

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
    # repartition BEFORE the pair generation (optimization round 13):
    # the nested-transform pair mining otherwise runs inside the
    # single-split scan task (profiled 5.1 s serial at sf0.1); the
    # exchange moves raw text bytes, far less than the ~2W× pair rows
    # it would otherwise take to distribute the work. Geometry-derived
    # count (optimization round 14, VERDICT r13 task 1): the flat
    # core-count fan-out over-fanned small inputs (8-core run
    # beat the 32-core run, PERF_r13 ratio 0.73). expand=14 centers
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


#: Welch t² from exact bigint moments — the SAME double expression text
#: runs on both engines (all casts to DOUBLE up front; sample variance
#: via the computational formula; NULL for degenerate groups rather
#: than a cross-engine div-by-zero skew, the funnel/auc guard pattern)
_WELCH_T2 = """
    CASE WHEN n1 >= 2 AND n2 >= 2
              AND (CAST(ss1 AS DOUBLE)
                   - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                     / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1e0)
                  / CAST(n1 AS DOUBLE)
                + (CAST(ss2 AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
                     / CAST(n2 AS DOUBLE)) / (CAST(n2 AS DOUBLE) - 1e0)
                  / CAST(n2 AS DOUBLE) > 0e0
    THEN
        (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
         - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
        / ((CAST(ss1 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
           / (CAST(n1 AS DOUBLE) - 1e0) / CAST(n1 AS DOUBLE)
           + (CAST(ss2 AS DOUBLE)
              - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             / (CAST(n2 AS DOUBLE) - 1e0) / CAST(n2 AS DOUBLE))
    ELSE NULL END
"""


@query(
    "welch_ttest_lengths",
    oracle=f"""
    WITH g AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n1,
               CAST(SUM(n_chars) AS BIGINT) AS s1,
               CAST(SUM(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS ss1
        FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
    tot AS (
        SELECT SUM(n1) AS nt, SUM(s1) AS st, SUM(ss1) AS sst FROM g),
    j AS (
        SELECT g.source, g.n1, g.s1, g.ss1,
               CAST(tot.nt - g.n1 AS BIGINT) AS n2,
               CAST(tot.st - g.s1 AS BIGINT) AS s2,
               CAST(tot.sst - g.ss1 AS BIGINT) AS ss2
        FROM g CROSS JOIN tot)
    SELECT source, n1, s1, ss1, n2, s2, ss2,
           {_WELCH_T2} AS welch_t2
    FROM j
    """,
    tags=("stats", "drift", "quality", "llm-pipeline"),
)
def welch_ttest_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-drift audit: Welch's unequal-variance t²
    statistic of each source's document lengths against the REST of
    the corpus — the one-vs-rest mean-shift screen a training-data
    pipeline runs when a crawl source starts emitting truncated or
    concatenated documents (the ``ks_drift_matrix`` sibling for means;
    KS is the whole-distribution screen). Exact bigint moments
    (n, Σlen, Σlen²) per source; the complement group is derived by
    subtracting from corpus totals — no second scan, no self-join.
    t² is ONE shared double expression over those bigints
    (cross-engine bit-equal; see module docstring), NULL on degenerate
    groups (n < 2 or zero pooled variance) rather than an
    engine-divergent division by zero.

    Rows with NULL n_chars are filtered up front — COUNT(*) would
    count them while SUM skips them, silently mixing populations in
    the moments (identically on both engines, so parity alone would
    not catch it).

    Plan: one map-side-combined groupBy(source) over the corpus, one
    broadcast cross-join of the |sources|-row table against its own
    1-row total. At 100 TB this is a single aggregation pass; the t²
    math runs on |sources| rows."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("n_chars").isNotNull()
    )
    nc = F.col("n_chars").cast("bigint")
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum(nc).cast("bigint").alias("s1"),
        F.sum(nc * nc).cast("bigint").alias("ss1"),
    )
    tot = g.agg(
        F.sum("n1").alias("nt"), F.sum("s1").alias("st"), F.sum("ss1").alias("sst")
    )
    j = g.crossJoin(F.broadcast(tot)).select(
        "source",
        "n1",
        "s1",
        "ss1",
        (F.col("nt") - F.col("n1")).cast("bigint").alias("n2"),
        (F.col("st") - F.col("s1")).cast("bigint").alias("s2"),
        (F.col("sst") - F.col("ss1")).cast("bigint").alias("ss2"),
    )
    return j.select(
        "source",
        "n1",
        "s1",
        "ss1",
        "n2",
        "s2",
        "ss2",
        F.expr(_WELCH_T2).alias("welch_t2"),
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


#: Wilson interval: z for 95% two-sided, and the report width
WILSON_Z = "1.96e0"
WILSON_TOP_N = 20

#: the SAME double expression runs on both engines: n/r are exact
#: bigints; +,*,/ and sqrt() are IEEE-754 correctly-rounded in both
#: (unlike ln/exp), so the emitted score is bit-identical
_WILSON_LB = f"""
    (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
     + {WILSON_Z} * {WILSON_Z} / (2e0 * CAST(n AS DOUBLE))
     - {WILSON_Z} * sqrt(
         (CAST(r AS DOUBLE) / CAST(n AS DOUBLE)
          * (1e0 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
          + {WILSON_Z} * {WILSON_Z} / (4e0 * CAST(n AS DOUBLE)))
         / CAST(n AS DOUBLE)))
    / (1e0 + {WILSON_Z} * {WILSON_Z} / CAST(n AS DOUBLE))
"""


@query(
    "wilson_lower_bound_rank",
    oracle=f"""
    WITH g AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT_IF(l_returnflag = 'R') AS BIGINT) AS r
        FROM lineitem GROUP BY l_suppkey)
    SELECT l_suppkey, n, r, {_WILSON_LB} AS wilson_lb
    FROM g
    ORDER BY wilson_lb DESC, l_suppkey
    LIMIT {WILSON_TOP_N}
    """,
    tags=("stats", "ranking", "agg"),
)
def wilson_lower_bound_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the Wilson score interval's lower bound on
    their return rate — the small-sample-honest way to rank
    proportions (a 1/1 = 100% supplier must NOT outrank a 480/500 =
    96% one; the raw rate does exactly that, the Wilson lower bound
    does not). The industry-standard fix popularized by Miller's
    "How Not To Sort By Average Rating". Exact bigint (n, r) per
    group; the bound is ONE shared double expression — sqrt is
    IEEE-754 correctly-rounded in both engines (unlike ln/exp), so
    this extends the bm25 shared-double discipline to interval
    statistics and the emitted score hash-compares bit-exactly.

    Plan: one map-side-combined groupBy over the fact table, then
    |suppliers| rows of double math and a TakeOrdered top-N with a
    total order (bound desc, supplier) — a single corpus scan at any
    scale."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count_if(F.col("l_returnflag") == "R").cast("bigint").alias("r"),
    )
    return (
        g.select("l_suppkey", "n", "r", F.expr(_WILSON_LB).alias("wilson_lb"))
        .orderBy(F.desc("wilson_lb"), F.asc("l_suppkey"))
        .limit(WILSON_TOP_N)
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
