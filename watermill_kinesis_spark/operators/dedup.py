"""Deduplication operators — exact and near-dup — over ``documents`` /
``embeddings`` (north-star LLM-pipeline layer): exact (text- and
hash-keyed, URL-canonical, paragraph-level), near-dup (n-gram Jaccard,
containment, MinHash, SimHash, Levenshtein, embedding cosine),
exact-substring detection and excision (winnowing fingerprints,
content-defined chunks, n-gram novelty), Bloom-filter benchmark
decontamination, and the dedup accounting and recall audits.

Scale design (the whole point of these):
- NOTHING does an all-pairs O(n²) comparison except the oracle-verified
  exact-cosine variant, which is the *correctness baseline* for the LSH
  paths; candidate generation is always blocking/bucketing:
  shared-shingle join (`dedup_ngram_jaccard`), MinHash band buckets
  (`dedup_fuzzy_minhash`), SimHash block-combination keys
  (`dedup_simhash`, Manku-style C(6,3) tables).
  Bucket joins shuffle only (key, doc_id) pairs — bytes per row, not
  documents. The containment faces block the same way (a 50-character
  prefix key; the shingle inverted index, optionally DF-capped), and
  benchmark decontamination joins the corpus against a broadcast
  eval-set n-gram table.
- Shingling/hashing is all JVM higher-order functions (transform/
  aggregate/xxhash64) — no Python in the hot path.
- Pair canonicalization (doc_a < doc_b) before the verify join halves
  the candidate set and makes results deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window as W, functions as F
from pyspark.sql.types import LongType as _LongType

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.functions.textexpr import word_ngram_rows
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import fanned_documents, load_table

#: shingle width for near-dup candidate generation
SHINGLE_N = 5
#: the oracles' per-document shingle sets, the body of their ``sh``
#: CTE: the distinct word SHINGLE_N-grams of each document, a document
#: shorter than SHINGLE_N words kept whole as its one shingle (the
#: semantics of ``textexpr.word_shingles`` and ``_shingle_rows``)
_SHINGLE_SETS_SQL = f"""(
        SELECT doc_id,
               list_distinct(list_transform(
                   range(0, greatest(len(string_split(text, ' ')) - {SHINGLE_N}, 0) + 1),
                   i -> array_to_string(list_slice(string_split(text, ' '),
                                                   CAST(i + 1 AS INT),
                                                   CAST(i + {SHINGLE_N} AS INT)), ' ')
               )) AS shingles
        FROM documents)"""
#: MinHash signature: B bands × R rows
MINHASH_B, MINHASH_R = 16, 8
#: Mersenne prime 2^31-1: constants and reduced hashes are < 2^31, so
#: a·h + b < 2^62 — modular arithmetic never overflows a Spark long
MH_PRIME = (1 << 31) - 1
#: block-grid width for the exact-cosine self-join: replication factor
#: is exactly this, per-cell memory is 2·(N/B)·dim doubles. 8 blocks →
#: 36 cells, enough to spread local[32] while keeping cells chunky; at
#: 100 TB size B ≈ √(N·dim·8B / executor_budget) instead.
EMB_GRID_BLOCKS = 8


# ---------------------------------------------------------------------------
# exact


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per identical text. One
    hash shuffle on the content key; at 100 TB you'd key on
    ``xxhash64(text)`` instead of the full text to shrink shuffle bytes
    — semantics identical, collisions ~2^-64."""
    d = fanned_documents(spark, sf_dir)
    w = W.partitionBy("text").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (oracle-verified near-dup baseline)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.6
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-5-gram Jaccard ≥ 0.6, with
    candidate generation by shared-shingle inverted index join — the
    MapReduce dedup pattern: only docs sharing ≥1 shingle ever meet, so
    cost is Σ(posting-list²) not n². Jaccard is int/int in double —
    exact, order-independent, oracle-stable.

    One corpus scan total: each exploded posting row carries its doc's
    set size (8 bytes) through the self-join, so |A| and |B| fall out
    of the pair aggregate as MIN over a per-doc constant — no separate
    ``sizes`` relation, and therefore no second/third shingling pass.
    The two self-join sides shuffle the identical (shingle) exchange,
    which Spark's ReuseExchange collapses into one."""
    return _shared_shingle_pairs(spark, sf_dir).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= 0.6)


def _shingle_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exploded distinct-shingle posting rows ``(doc_id, n, shingle)``
    — n is the doc's DISTINCT shingle count — computed in ONE
    Arrow-vectorized pass over documents.

    Why a kernel and not the ``textexpr.word_shingles`` HOF
    projection: the declarative spelling planned pathologically here.
    (1) Catalyst's
    InferFiltersFromGenerate inferred ``size(shingles) > 0`` from the
    explode and pushed it below the repartition exchange into the
    parquet SCAN stage — the whole interpreted HOF pipeline
    (split → sequence → slice → array_join → array_distinct) ran per
    row in the single-split scan task just to evaluate the filter,
    then ran AGAIN post-exchange for the projection (profiled: a
    2.4 CPU-second serial stage at sf0.1). (2) The pair self-join
    planned the scan+shingle subtree on BOTH sides with no exchange
    reuse, so the corpus was shingled four times per query. An opaque
    kernel is not duplicated by filter inference, not re-planned per
    join side, and tokenizes ~10× faster than the interpreted HOFs.

    Emission semantics are IDENTICAL to ``word_shingles``: tokens =
    split(text, ' ', -1) (empty strings kept), shingles i..i+4 for
    i in 0..max(len−5, 0) (short docs yield their whole text as the
    one shingle), first-occurrence dedup (= array_distinct order),
    NULL text emits nothing (= explode of NULL)."""
    import pandas as pd

    n_gram = SHINGLE_N

    def kernel(batches):
        for pdf in batches:
            out_id, out_n, out_sh = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                k = max(len(toks) - n_gram, 0) + 1
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + n_gram]) for i in range(k)
                    )
                )
                out_id.extend([doc_id] * len(sh))
                out_n.extend([len(sh)] * len(sh))
                out_sh.extend(sh)
            yield pd.DataFrame(
                {"doc_id": out_id, "n": out_n, "shingle": out_sh}
            )

    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # fan the kernel out of the single-split scan task: the
        # tokenize+dedup pass profiled
        # 0.65 s SERIAL at sf0.1 inside every consumer of the shingle
        # family (jaccard, cross-source, both containment faces,
        # cluster_canonical). Raw text shuffles once; expand=7 is the
        # envelope/kmv sweep optimum for text-kernel stages, and the
        # ∝-bytes clamp keeps a real corpus at full parallelism
        .repartition(
            adaptive_partitions(spark, sf_dir, "documents", expand=7),
            "doc_id",
        )
        .mapInPandas(kernel, "doc_id long, n int, shingle string")
    )


def _shared_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs from the shared-shingle inverted index:
    (doc_a, doc_b, n_common, na, nb) with doc_a < doc_b — the common
    core of the Jaccard and containment near-dup operators.

    Pair generation: group the posting rows by
    shingle into a doc_id-sorted posting array and emit each unordered
    pair ONCE with an array-combination inline — replacing the former
    posting self-join, which shuffled the exploded corpus twice, sorted
    both sides, and planned the scan+shingle pipeline once per side.
    One corpus kernel pass, one shuffle on shingle, one shuffle on the
    pair key. The shingle repartition carries an EXPLICIT count
    (REPARTITION_BY_NUM — exempt from AQE coalescing): the posting
    bytes are tiny so AQE would coalesce the exchange to one partition,
    but the combination inline explodes Σ C(|posting|, 2) pairs that
    AQE's input-byte sizing cannot see (guide §2.5, exploding joins) —
    cost is Σ|posting|² exactly as before, spread over every core.
    The count is geometry-derived: expand = 10 (parquet→text) × SHINGLE_N (each token lands
    in ~SHINGLE_N shingle strings) sizes the exchange from the shingle
    rows it actually carries, clamped to the core count."""
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    posting = (
        _shingle_rows(spark, sf_dir)
        .repartition(
            adaptive_partitions(
                spark, sf_dir, "documents", expand=10 * SHINGLE_N
            ),
            "shingle",
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .where(F.size("ds") >= 2)
    )
    pairs = posting.select(
        F.expr(
            "inline(flatten(transform(ds, (x, i) ->"
            " transform(slice(ds, i + 2, size(ds) - i - 1), y ->"
            " struct(x.doc_id AS doc_a, x.n AS na,"
            "        y.doc_id AS doc_b, y.n AS nb)))))"
        )
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.min("na").alias("na"),
        F.min("nb").alias("nb"),
    )


# ---------------------------------------------------------------------------
# containment near-dups: truncated copies, quoted and embedded text

#: blocking prefix length: only docs at least this long participate
PREFIX_BLOCK = 50


@query(
    "dedup_prefix_containment",
    oracle=f"""
    SELECT a.doc_id AS doc_trunc, b.doc_id AS doc_full,
           CAST(LENGTH(a.text) AS DOUBLE) / LENGTH(b.text) AS len_ratio
    FROM documents a
    JOIN documents b
      ON SUBSTRING(a.text, 1, {PREFIX_BLOCK}) = SUBSTRING(b.text, 1, {PREFIX_BLOCK})
     AND LENGTH(a.text) < LENGTH(b.text)
     AND starts_with(b.text, a.text)
    WHERE LENGTH(a.text) >= {PREFIX_BLOCK}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-copy detection: pairs where one document is a strict
    prefix of another (the classic crawl artifact — same page captured
    at different cut-offs; MinHash can miss these when the longer doc
    dwarfs the shared prefix). Candidate generation blocks on the first
    50 (PREFIX_BLOCK) characters, so the join is an equi-join on a short
    key — the full text only crosses the wire for rows sharing a block,
    and at 100 TB the block key would be xxhash64(prefix) instead of
    the prefix itself (same plan shape). Docs shorter than the block
    are out of scope by definition."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.length("text") >= PREFIX_BLOCK)
        .withColumn("blk", F.substring("text", 1, PREFIX_BLOCK))
    )
    a = d.select(
        F.col("doc_id").alias("doc_trunc"),
        F.col("text").alias("text_a"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("doc_full"), F.col("text").alias("text_b"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(
            (F.length("text_a") < F.length("text_b"))
            & F.col("text_b").startswith(F.col("text_a"))
        )
        .select(
            "doc_trunc",
            "doc_full",
            (
                F.length("text_a").cast("double") / F.length("text_b")
            ).alias("len_ratio"),
        )
    )


#: containment threshold: |A∩B| / |A| for the smaller shingle set
CONTAIN_T = 0.8


@query(
    "dedup_containment_ngram",
    oracle=f"""
    WITH sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS na, sb.n AS nb
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b)
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           CAST(n_common AS DOUBLE) / na AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / na >= {CONTAIN_T}
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_super,
           CAST(n_common AS DOUBLE) / nb AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / nb >= {CONTAIN_T}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_containment_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle *containment* near-dup: C(A→B) = |A∩B| / |A| ≥ 0.8 (CONTAIN_T)
    — flags documents mostly contained in another (quotes, boilerplate
    wrapping, concatenated dumps) that symmetric Jaccard misses when
    the sizes differ a lot. Same inverted-index candidate generation as
    dedup_ngram_jaccard (cost Σ posting-list², never n²); each
    surviving pair is emitted in whichever direction(s) clear the
    threshold. Pure integer ratios → exact, order-independent. Set
    sizes ride the exploded posting rows (dedup._shared_shingle_pairs),
    so the corpus is shingled exactly once."""
    scored = _shared_shingle_pairs(spark, sf_dir)
    # BOTH directions in one pass: a fwd.unionAll(rev) spelling planned the whole pair pipeline TWICE (union
    # children are independent subtrees; nothing merged them). Each
    # surviving pair row explodes into its two direction candidates and
    # one filter keeps whichever clear the threshold — output-identical
    # (the oracle compare is order-insensitive), half the work.
    c_ab = F.col("n_common").cast("double") / F.col("na")
    c_ba = F.col("n_common").cast("double") / F.col("nb")
    return (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_sub"),
                        F.col("doc_b").alias("doc_super"),
                        c_ab.alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_sub"),
                        F.col("doc_a").alias("doc_super"),
                        c_ba.alias("containment"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .where(F.col("containment") >= CONTAIN_T)
    )


#: document-frequency ceiling for the capped containment face: a
#: shingle appearing in more docs than this is boilerplate, carries
#: ~no near-dup signal, and is the Σ|posting|² skew magnet — the
#: standard inverted-index hot-term drop
CONTAIN_DF_CAP = 100


@query(
    "dedup_containment_capped",
    oracle=f"""
    WITH sh AS {_SHINGLE_SETS_SQL},
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    df AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle),
    kept AS (
        SELECT ex.doc_id, ex.shingle
        FROM ex JOIN df USING (shingle) WHERE df.df <= {CONTAIN_DF_CAP}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM kept GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM kept a JOIN kept b ON a.shingle = b.shingle
                               AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT p.doc_a, p.doc_b, p.n_common, sa.n AS na, sb.n AS nb
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b)
    SELECT doc_a AS doc_sub, doc_b AS doc_super,
           CAST(n_common AS DOUBLE) / na AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / na >= {CONTAIN_T}
    UNION ALL
    SELECT doc_b AS doc_sub, doc_a AS doc_super,
           CAST(n_common AS DOUBLE) / nb AS containment
    FROM scored WHERE CAST(n_common AS DOUBLE) / nb >= {CONTAIN_T}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DF-capped twin of ``dedup_containment_ngram`` (VERDICT r12 task
    7): drop shingles whose document frequency exceeds CONTAIN_DF_CAP
    before the posting-list self-join — the standard inverted-index
    hot-term trick. The exact face's Σ|posting|² candidate generation
    is quadratic in per-shingle document frequency, so one hot
    boilerplate shingle ("all rights reserved …" in a crawl, or every
    shingle of a ×100-duplicated corpus) dominates the join; capping
    bounds every posting's pair contribution at CONTAIN_DF_CAP² and
    makes the whole plan's shuffle O(Σ min(df, cap)²) — flat in corpus
    duplication, the property the exact face lacks (its 100× OOM,
    SCALE.md r12).

    CONTRACT, stated honestly: containment is computed over the
    sub-cap shingle VOCABULARY — both |A∩B| and |A| count only kept
    shingles, a self-consistent redefinition rather than a biased
    estimate of the exact score. The recall trade: a pair whose
    overlap is mostly boilerplate no longer qualifies (that's the
    point); a pair whose distinctive shingles overlap still scores
    ≥ the threshold. Docs whose every shingle is hot leave the
    relation (no zero-denominator row). On corpora with no shingle
    above the cap the output EQUALS the exact face's, which is the
    sf0.01 oracle condition; the cap behavior itself is pinned by a
    hot-shingle pytest fixture (tests/test_analytics2.py)."""
    # ONE corpus kernel pass (shared _shingle_rows, see its docstring
    # for why the declarative HOF spelling planned pathologically),
    # then posting arrays per shingle; hot-shingle rows never reach
    # the pair stage, which is the property that bounds the plan at
    # 100 TB. The shingle repartition carries an EXPLICIT count
    # (REPARTITION_BY_NUM, exempt from AQE coalescing): posting bytes
    # are tiny, the pair inline explodes Σ min(df, cap)² rows AQE
    # cannot see (guide §2.5).
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    ex = (
        _shingle_rows(spark, sf_dir)
        .select("doc_id", "shingle")
        # geometry-derived explicit count (see _shared_shingle_pairs
        # for the sizing rationale)
        .repartition(
            adaptive_partitions(
                spark, sf_dir, "documents", expand=10 * SHINGLE_N
            ),
            "shingle",
        )
    )
    # The DF cap is enforced on a DISK-SPILLABLE operator BEFORE any
    # posting array is materialized: a collect_list over an uncapped group buffers O(df)
    # doc_ids in one in-memory aggregation buffer, so a hot
    # boilerplate shingle at the 100 TB design point would hold an
    # O(corpus) array in one task — the cap no longer bounded executor
    # memory, only the pair stage. A count window over the same
    # shingle partitioning computes df while its partition-group
    # buffer (ExternalAppendOnlyUnsafeRowArray) spills to disk past
    # the in-memory threshold, so a hot shingle costs disk, not heap;
    # only surviving rows reach collect_list, bounding every posting
    # buffer at CONTAIN_DF_CAP entries. Cost stays one corpus
    # shuffle + one spillable sort: the window and the groupBy both
    # reuse the explicit shingle exchange. (A count-aggregate +
    # semi-join spelling was measured first: column pruning makes the
    # two exchange subtrees non-identical, so the serial shingle
    # kernel ran TWICE — profiled +1.2 s at sf0.1.)
    posting = (
        ex.withColumn("df", F.count(F.lit(1)).over(W.partitionBy("shingle")))
        .where(F.col("df") <= CONTAIN_DF_CAP)
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
    )
    kept = posting.select(F.explode("docs").alias("doc_id"))
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        posting.where(F.size("docs") >= 2)
        .select(
            F.expr(
                "inline(flatten(transform(docs, (x, i) ->"
                " transform(slice(docs, i + 2, size(docs) - i - 1), y ->"
                " struct(x AS doc_a, y AS doc_b)))))"
            )
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
    )
    # both directions in one pass (see dedup_containment_ngram)
    c_ab = F.col("n_common").cast("double") / F.col("na")
    c_ba = F.col("n_common").cast("double") / F.col("nb")
    return (
        scored.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_sub"),
                        F.col("doc_b").alias("doc_super"),
                        c_ab.alias("containment"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_sub"),
                        F.col("doc_a").alias("doc_super"),
                        c_ba.alias("containment"),
                    ),
                )
            ).alias("r")
        )
        .select("r.*")
        .where(F.col("containment") >= CONTAIN_T)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH (the 100 TB near-dup path)


@query("dedup_fuzzy_minhash", tags=("dedup", "lsh", "llm-pipeline"))
def dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(128) + LSH banding near-dup:

    shingle → crc32 → 128 universal hashes ``(aᵢ·h+bᵢ) mod p`` →
    per-doc min (the signature) → 16 bands × 8 rows → band-hash bucket
    grouping → candidate pairs → exact Jaccard verify ≥ 0.6.

    With B=16, R=8 the S-curve puts pair-catch probability at ~50% at
    J≈0.7 and ≥97% at J≈0.85 — tuned for "catch real near-dups, don't
    flood the verifier".

    The shingle+signature kernel is ONE Arrow-vectorized ``mapInPandas``
    scan (numpy broadcasting, C speed). This is the measured-fast path:
    the two natural JVM spellings both fall out of codegen — per-row
    higher-order lambdas always run interpreted, and a 128-column MIN
    aggregate overflows the codegen method limit (≈35 s per 5k docs
    interpreted vs <1 s vectorized). Each doc row is independent, so
    batch boundaries can't split a group (unlike applyInPandas, which
    paid ~8 ms of pandas overhead per doc group).

    Rows-only check: the signature/bucketing isn't SQL-reproducible;
    the oracle-verified `dedup_ngram_jaccard` pins the same pair
    semantics exactly, and tests assert LSH recall against it."""
    n_hashes = MINHASH_B * MINHASH_R
    # deterministic universal-hash family (seeded LCG constants)
    rnd = []
    state = 0x9E3779B97F4A7C15
    for _ in range(2 * n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        rnd.append(1 + state % (MH_PRIME - 1))
    a_consts, b_consts = rnd[:n_hashes], rnd[n_hashes:]

    import zlib

    import numpy as np
    import pandas as pd

    a_np = np.array(a_consts, dtype=np.uint64)[:, None]
    b_np = np.array(b_consts, dtype=np.uint64)[:, None]
    n = SHINGLE_N

    def scan(batches):
        for pdf in batches:
            ids, sigs, shs = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split(" ")
                upper = max(len(toks) - n, 0) + 1
                sh = {" ".join(toks[i : i + n]) for i in range(upper)}
                h = np.fromiter(
                    (zlib.crc32(s.encode()) for s in sh),
                    dtype=np.uint64,
                    count=len(sh),
                ) % np.uint64(MH_PRIME)
                sig = ((a_np * h[None, :] + b_np) % MH_PRIME).min(axis=1)
                ids.append(did)
                sigs.append(sig.astype(np.int64))
                shs.append(np.unique(h.astype(np.int64)))
            yield pd.DataFrame({"doc_id": ids, "sig": sigs, "sh": shs})

    # One scan emits both the signature (for banding) and the shingle-
    # hash set (for the verify join); materialized once because three
    # plan branches read it — ~200 B/doc, far cheaper than recomputing
    # the kernel per branch. The returned plan reads it, so it is the
    # result's own checkpoint (functions/scope.py).
    base = (
        fanned_documents(spark, sf_dir)
        .select("doc_id", "text")
        .mapInPandas(scan, "doc_id long, sig array<long>, sh array<long>")
        .localCheckpoint()
    )
    signed = base.select("doc_id", "sig")
    # Bands carry ONLY (band, bucket, doc_id): the candidate self-join
    # and the pair-dedup shuffle move 24 bytes/row, never the shingle
    # arrays — at 100 TB the arrays would be the whole corpus re-shuffled
    # 16×. Shingles are re-attached to the (tiny) surviving pair set.
    bands = signed.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(band), F.slice("sig", band * MINHASH_R + 1, MINHASH_R)
                    )
                    for band in range(MINHASH_B)
                ]
            )
        ).alias("band", "bucket"),
    )
    # Candidate pairs via bucket grouping, not a self-join: a self-join
    # would evaluate the signature lineage twice (Spark reuses exchanges
    # only opportunistically); collect_list keeps one lineage and the
    # pair expansion only touches buckets with ≥2 members. Bucket skew
    # is bounded: a giant bucket means near-identical docs, and its
    # pair list is exactly the output the operator must produce anyway.
    buckets = (
        bands.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cand = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )
    sh_a = base.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")).cast("double") / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.6)
    )


def _simhash_fp_col(th: F.Column) -> F.Column:
    """SimHash(64) fingerprint Column over a per-token-hash array
    column ``th`` — the vote arithmetic factored out so callers can
    fuse the fingerprint into a wider single-scan projection (the
    recall audit computes (doc_id, census-key, fp) in ONE pass over
    documents instead of joining two derivations on doc_id). Each
    token hash votes ±1 on each of 64 bits; the sign vector is the
    fingerprint.

    Vectorized (guide §4.2): the HOF
    spelling was 64 interpreted ``F.aggregate`` HOF folds (one per
    bit) — HOF lambdas never enter codegen, and the 64-fold expression
    tree was so large that task deserialization alone dominated the
    downstream stages. This Arrow kernel computes the IDENTICAL exact
    integer votes — bit b of the fingerprint is set iff
    Σ_tokens (bit b of xxhash64(token) ? +1 : −1) > 0, sign bit
    included — via one uint64 bit-unpack + sum per row. Token hashes
    still come from JVM ``xxhash64`` upstream, so fingerprint VALUES
    are bit-identical to the HOF spelling's (pinned by the pytest
    fingerprint fixtures)."""
    return _simhash_fp_kernel(th)


# DataType instance, not a DDL string: a string returnType is parsed
# through the active SparkContext, which doesn't exist at import time
@F.pandas_udf(_LongType())
def _simhash_fp_kernel(th_series):
    """votes[b] = Σ ±1 over token-hash bit b; fp bit b ⇔ votes[b] > 0.
    Exact integer arithmetic, elementwise identical to the former HOF
    fold (two's-complement int64 out, numpy uint64 internally)."""
    import numpy as np
    import pandas as pd

    bits = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(th_series), dtype=np.int64)
    for i, row in enumerate(th_series):
        if row is None:
            # parity with the former HOF fold: the outer OR-fold ran
            # over a LITERAL array of 64 when(vote>0) items, and a NULL
            # th made every vote NULL → every item 0 → fp 0 (verified
            # empirically before the rewrite), NOT NULL
            out[i] = 0
            continue
        H = np.asarray(row, dtype=np.int64).astype(np.uint64)
        if len(H) == 0:
            out[i] = 0
            continue
        # (n_tokens × 64) bit matrix → per-bit vote sums
        votes = ((H[:, None] >> bits[None, :]) & np.uint64(1)).sum(
            axis=0, dtype=np.int64
        ) * 2 - len(H)
        fp = np.uint64(0)
        set_bits = bits[votes > 0]
        if len(set_bits):
            fp = np.bitwise_or.reduce(np.uint64(1) << set_bits)
        out[i] = int(fp.astype(np.int64))
    return pd.Series(out)


def _simhash_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fp) SimHash(64) fingerprints — the vote stage shared by
    ``dedup_simhash`` and its recall audit. Per-token xxhash64 votes ±1
    on each of 64 bits; the sign vector is the fingerprint. One long
    per doc: downstream shuffles are 16 bytes/row regardless of
    document size."""
    d = fanned_documents(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    tok_hash = F.transform(F.array_distinct("toks"), lambda t: F.xxhash64(t))
    return d.withColumn("th", tok_hash).select(
        "doc_id", _simhash_fp_col(F.col("th")).alias("fp")
    )


@query("dedup_simhash", tags=("dedup", "lsh", "llm-pipeline"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(64) near-dup over the ``_simhash_fps`` fingerprints.
    Pairs are blocked on 16-bit chunks (any pair within Hamming
    distance 3 shares ≥1 of 4 chunks — pigeonhole), then verified by
    exact Hamming ≤ 3 via ``bit_count(xor)``. Rows-only: DuckDB has no
    xxhash64, so the fingerprints cannot be recomputed cross-engine;
    the blocking guarantee and verify arithmetic are test-pinned, and
    ``simhash_recall_audit`` pins the exact-duplicate recall guarantee
    against an oracle-recomputed dup-group census."""
    return _simhash_pairs(_simhash_fps(spark, sf_dir))


def _simhash_pairs(fps: DataFrame, dfp: DataFrame | None = None) -> DataFrame:
    """Blocked Hamming≤3 pair stage over (doc_id, fp) rows — the
    execution body of ``dedup_simhash``, parameterized on the
    fingerprint relation so the recall audit can drive the REAL pair
    path from one persisted fingerprint pass. ``dfp`` optionally
    supplies the DISTINCT-fingerprint relation (single ``fp`` column)
    when the caller already aggregated by fp — the recall audit shares
    one groupBy-fp exchange between its expected-pair census and this
    blocking stage instead of shuffling the fingerprints twice.

    Two scale rules learned at the sf1-equivalent sweep (both
    violations OOM'd a 1 GiB vanilla session on 50k docs):

    1. **Block on combination keys, not single chunks** (Manku/Jain/
       Das Sarma, WWW'07): the fingerprint splits into 6 blocks and
       each fp is keyed by all C(6,3)=20 combinations of 3 block
       values (~32-bit keys). Pigeonhole keeps the guarantee exact —
       ≤3 flips touch ≤3 blocks, so some untouched combination agrees
       — while random 16-bit-chunk buckets held ~4.7k
       docs each and joined ~99M accidental pairs.
    2. **Collapse identical fingerprints FIRST**: duplicate-dense
       corpora have fp clusters of thousands of docs, and OR-amplified
       LSH would re-emit each cluster's C(c,2) pairs once per matching
       key (20×). Blocking runs over DISTINCT fps (one node per
       cluster); doc pairs are expanded afterwards by two fp equi-joins
       (inter-cluster) plus a per-fp self-join (intra-cluster,
       hamming 0) — both output-bound, never multiplicity-bound."""
    import itertools

    bounds = [(0, 11), (11, 22), (22, 33), (33, 44), (44, 54), (54, 64)]

    def block(c: int) -> F.Column:
        lo, hi = bounds[c]
        return F.shiftrightunsigned("fp", lo).bitwiseAND(
            F.lit((1 << (hi - lo)) - 1)
        )

    keys = []
    for combo_id, combo in enumerate(itertools.combinations(range(6), 3)):
        k = F.lit(combo_id).cast("bigint")
        for c in combo:
            k = F.shiftleft(k, bounds[c][1] - bounds[c][0]).bitwiseOR(
                block(c)
            )
        keys.append(k)
    if dfp is None:
        dfp = fps.select("fp").distinct()
    chunks = dfp.select(
        "fp", F.explode(F.array(*keys)).alias("bkey")
    )
    # EVERY join below is keyed on a corpus-derived relation (blocking
    # keys over distinct fingerprints, the fingerprint table itself)
    # and BOTH sides grow with the corpus, so every one is pinned
    # ``merge`` (sort-merge): at the 100× replica AQE's post-shuffle
    # size estimate elected to BROADCAST a fingerprint side (~500k
    # rows sit just under the compressed threshold while the hash
    # relation build blew the vanilla 1 GiB driver) — the
    # ngram_novelty_score class, on the fingerprint member of
    # SCALE.md's "grams, tokens, fingerprints" rule. shuffle_hash is
    # NOT the right pin here (tried at the same replica): AQE
    # coalesces the shuffle to its 64 MB advisory partition size, and
    # a shuffled-hash build must hold a whole coalesced partition as
    # a hash relation per task — it OOM'd where SMJ spills and
    # streams. Big-big joins sort; only bounded build sides hash.
    a = chunks.select("bkey", F.col("fp").alias("fp_a"))
    b = chunks.select("bkey", F.col("fp").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    # hamming ≤ 3 BEFORE dropDuplicates (found at the 100×
    # replica): the filter is a row-local bit_count on the join
    # output, but written after the dedup aggregate it cannot be
    # pushed below it — so the aggregate was ingesting every
    # accidental bucket pair (hamming > 3 junk, the overwhelming
    # majority) only to discard them afterwards; at 100× the
    # spill-merge of that junk OOM'd a 1 GiB heap. Filter-then-dedup
    # is output-identical (hamming is a function of the dedup keys).
    fp_pairs = (
        a.join(b.hint("merge"), ["bkey"])
        .where(F.col("fp_a") < F.col("fp_b"))
        .select("fp_a", "fp_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= 3)
        .dropDuplicates(["fp_a", "fp_b"])
    )
    inter = (
        fp_pairs.join(
            fps.select(
                F.col("doc_id").alias("da"), F.col("fp").alias("fp_a")
            ).hint("merge"),
            "fp_a",
        )
        .join(
            fps.select(
                F.col("doc_id").alias("db"), F.col("fp").alias("fp_b")
            ).hint("merge"),
            "fp_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    intra = (
        fps.alias("x")
        .join(fps.alias("y").hint("merge"), "fp")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return inter.unionByName(intra)


# ---------------------------------------------------------------------------
# connected components → canonical representative per near-dup cluster

#: propagation cap; with per-sweep pointer doubling a component of
#: diameter d converges in O(log d) sweeps, so 20 covers any component
#: a near-dup graph could realistically hold (d ≤ ~2^19); the loop
#: still exits as soon as a sweep changes nothing
CC_MAX_ITERS = 20


def connected_components(
    nodes: DataFrame, edges: DataFrame, *, symmetric_edges: bool = False
) -> DataFrame:
    """Distributed connected components: min-label propagation (Pregel
    pattern) with per-sweep *pointer doubling*.

    ``nodes`` must have a ``doc_id`` column; ``edges`` must have
    ``doc_a``/``doc_b`` columns. Returns ``(doc_id, comp)`` with
    ``comp`` = min doc_id of the component.

    Edges are treated as UNDIRECTED: unless ``symmetric_edges=True``,
    the relation is symmetrized internally (a directional sweep
    mislabels an asymmetric edge list: a node appearing only as
    ``doc_b`` is labeled isolated while still receiving labels, and
    labels only flow a→b). A caller that already materializes both
    directions — ``dedup_cluster_canonical`` checkpoints the symmetric
    relation for the sweep loop — passes ``symmetric_edges=True`` and
    skips the doubled join work the internal union would cost it.

    Each sweep does two things: (1) every node takes the min label among
    itself and its neighbors — one groupBy shuffle; (2) the shortcut
    ``comp ← comp(comp)`` — one self-join on the label graph. The
    shortcut halves label-chain height every sweep, so a chain of
    diameter d converges in O(log d) sweeps instead of O(d); labels
    never leave the cluster (the driver only sees a 0/1 changed count).
    ``localCheckpoint`` truncates the growing loop lineage.

    The sweeps iterate over EDGE-TOUCHED nodes only (guide §2.3): an
    isolated node is its own component by
    definition and never changes, yet the old per-sweep groupBy +
    shortcut self-join shuffled every corpus label every sweep. The
    near-dup edge set is orders of magnitude smaller than the corpus,
    so at 100 TB this removes sweeps × corpus-size shuffles; isolated
    nodes are appended once at the end with ``comp = doc_id`` (one
    anti-join) — output identical."""
    if not symmetric_edges:
        e = edges.select("doc_a", "doc_b")
        edges = e.union(
            e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        )
    # with symmetric edges every endpoint appears as doc_a
    touched = edges.select(F.col("doc_a").alias("doc_id")).distinct()
    labels = touched.select(
        "doc_id", F.col("doc_id").alias("comp")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    changed = 1
    for sweep in range(CC_MAX_ITERS):
        # Plain shuffle join on doc_id — NO forced broadcast: the
        # near-dup edge set is corpus-dependent and unbounded (a
        # duplicate-heavy crawl at 100 TB yields billions of edges,
        # which a forced broadcast would OOM onto every executor). AQE
        # still picks a broadcast join at runtime whenever the edge
        # relation actually fits.
        neigh = labels.join(
            edges, labels.doc_id == edges.doc_a
        ).select(F.col("doc_b").alias("doc_id"), "comp")
        propagated = (
            labels.union(neigh).groupBy("doc_id").agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp(x) ← comp(comp(x)). comp values are
        # doc_ids, so the inner self-join always matches, and
        # comp(comp(x)) ≤ comp(x) (min-labels include self) — take it.
        lut = propagated.select(
            F.col("doc_id").alias("c_id"), F.col("comp").alias("c_comp")
        )
        # Convergence via the label-sum invariant, observed FOR FREE:
        # every node's label is NON-INCREASING across sweeps (min over
        # self+neighbors, then shortcut to an ≤ value), so sum(comp)
        # strictly decreases until the fixpoint — equal sums ⟺ no
        # label moved. The sum rides the checkpoint materialization
        # job via observe(), so the check costs zero extra jobs AND
        # zero extra shuffles — the old new-vs-old join would reshuffle
        # two corpus-size label tables per sweep at 100 TB.
        obs = Observation(f"cc_sweep_{sweep}")
        new_labels = (
            propagated.join(lut, propagated.comp == lut.c_id)
            .select("doc_id", F.col("c_comp").alias("comp"))
            .observe(obs, F.sum("comp").alias("s"))
            .localCheckpoint()
        )
        new_sum = obs.get["s"]
        changed = int(new_sum != prev_sum)
        prev_sum = new_sum
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # Never return partial components: a component whose label
        # chains outlast the sweep budget would get silently-wrong
        # cluster_ids while callers assume the full transitive closure.
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITERS} "
            "pointer-doubling sweeps — raise CC_MAX_ITERS"
        )
    # Anti-join against the FINAL labels, not ``touched``: labels is a localCheckpointed flat RDD with
    # exactly the touched doc_id set, while touched's lineage is the
    # caller's edge relation — dedup_cluster_canonical releases edges
    # before the returned plan executes, so an anti-join on touched
    # re-ran the entire shingle-pair/jaccard pipeline a second time at
    # action time.
    isolated = nodes.join(labels.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("comp")
    )
    return labels.unionByName(isolated)


@query(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    jac AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.6),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
    SELECT src AS doc_id,
           MIN(dst) AS cluster_id,
           CAST(MIN(dst) = src AS INT) AS is_canonical
    FROM reach GROUP BY src
    """,
    tags=("dedup", "graph", "llm-pipeline"),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup *clustering*: connected components over the Jaccard≥0.6
    pair graph, each document labeled with its cluster (min doc_id in
    the component) and whether it is the canonical keeper. This is the
    step the pair-emitting operators feed in a real pipeline — without
    transitive closure, A~B and B~C keeps both A and C.

    Distributed algorithm: ``connected_components`` above — min-label
    propagation with per-sweep pointer doubling (O(log d) sweeps for
    diameter-d chains). Edges are near-dup pairs (orders of magnitude
    smaller than the corpus) joined WITHOUT a forced broadcast — AQE
    broadcasts them at runtime when they fit, and a duplicate-heavy
    crawl whose edge set doesn't fit shuffles instead of OOMing; the
    per-sweep shuffles are one groupBy on doc_id plus the shortcut
    self-join. The oracle is
    the same fixpoint computed as a DuckDB recursive-CTE transitive
    closure."""
    docs = fanned_documents(spark, sf_dir).select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # keyed repartition WITHOUT an explicit count before the checkpoint:
    # REPARTITION_BY_COL is AQE-coalescible, so the checkpointed edge
    # relation's partition count tracks its actual bytes (a handful of
    # near-dup edges → 1-2 partitions; a duplicate-heavy crawl → many)
    # instead of inheriting the corpus pipeline's full fan-out — every
    # CC sweep's map stages iterate over these partitions (a full
    # fan-out ran 96 near-empty tasks per sweep)
    # checkpoint, not persist: every CC sweep replans against the edge relation, and
    # with a persisted python-kernel lineage each AQE replan dragged
    # the full shingle-pair cached plan along — the sweep map stages
    # ran ~45 ms/task of zero-CPU wall. The eager checkpoint is a flat
    # LogicalRDD with the same AQE-coalesced keyed layout; alternating
    # A/B at sf0.1: persist 2.27/1.66 s vs checkpoint 1.64/1.25 s,
    # identical output. It is scoped: labels is itself checkpointed
    # (flat) and the isolated leg anti-joins labels, not edges, so the
    # returned plan never reads the edge blocks.
    with Scope(spark) as scope:
        edges = scope.checkpointed(
            pairs.union(
                pairs.select(
                    F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
                )
            ).repartition(F.col("doc_a"))
        )
        labels = connected_components(docs, edges, symmetric_edges=True)
    return labels.select(
        "doc_id",
        F.col("comp").alias("cluster_id"),
        (F.col("comp") == F.col("doc_id")).cast("int").alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup (exact baseline; LSH path in similarity.py)


@query(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.4
    """,
    tags=("dedup", "embedding", "llm-pipeline"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding near-dup: all pairs with cosine ≥ 0.4 (threshold
    sits in the testdata's top-0.1% of pair similarities). This is
    the *correctness baseline* (and the oracle anchor) for the LSH path
    in `similarity_ann_lsh`; at 100 TB you run the bucketed variant and
    sample-audit against this one. Pair ids only — cosine crosses the
    wire as a predicate, never as a float column, so the hash compare
    can't flake on 1-ulp differences.

    Fully distributed block-grid self-join (no driver collect anywhere):
    each vector hash-blocks into one of ``EMB_GRID_BLOCKS`` blocks; the
    B·(B+1)/2 grid cells each receive the two sub-blocks they compare
    (side 0 = the cell's row block, side 1 = its column block) via a
    broadcast join against the tiny grid table, and ``applyInPandas``
    runs one Arrow/BLAS matmul per cell. Every unordered pair lands in
    exactly one cell, so no post-dedup is needed. Cost model: shuffle =
    B × corpus bytes; per-cell memory = 2·(N/B)·dim doubles — at 100 TB
    you size B so a cell fits an executor (B grows as √N, replication
    stays B, never N)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return embedding_cosine_pairs(e, threshold=0.4)


def embedding_cosine_pairs(
    e: DataFrame, threshold: float, n_blocks: int = EMB_GRID_BLOCKS
) -> DataFrame:
    """Block-grid exact cosine pair join over ``(vec_id, emb)`` — the
    distributed core of ``dedup_embedding_cosine`` (see its docstring
    for the grid layout and 100 TB cost model). Emits each qualifying
    unordered pair exactly once, including when some hash blocks are
    empty (small or skewed corpora)."""
    import numpy as np
    import pandas as pd

    spark = e.sparkSession
    B = n_blocks
    e = e.select(
        "vec_id",
        "emb",
        F.pmod(F.xxhash64("vec_id"), F.lit(B)).cast("int").alias("blk"),
    )
    grid = local_relation(spark,
        [(i * B + j, i, j) for i in range(B) for j in range(i, B)],
        "cell int, gi int, gj int",
    )
    row_side = e.join(F.broadcast(grid), e.blk == grid.gi).select(
        "cell", "vec_id", "emb", F.lit(0).alias("side")
    )
    col_side = e.join(
        F.broadcast(grid.where(F.col("gi") != F.col("gj"))), e.blk == grid.gj
    ).select("cell", "vec_id", "emb", F.lit(1).alias("side"))
    tagged = row_side.unionAll(col_side)

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["side"] == 0]
        right = pdf[pdf["side"] == 1]
        # Diagonal is identified by the GROUP KEY (cell = i*(B+1) iff
        # i == j, unique because 0 <= j-i < B+1), never by an empty
        # right side: an off-diagonal cell whose column block happens
        # to hash empty must emit NOTHING — treating it as diagonal
        # would re-emit the row block's upper triangle and duplicate
        # the true diagonal cell's pairs.
        is_diag = int(pdf["cell"].iloc[0]) % (B + 1) == 0
        a_ids = left["vec_id"].to_numpy(dtype=np.int64)
        empty = pd.DataFrame(
            {"vec_a": np.array([], np.int64), "vec_b": np.array([], np.int64)}
        )
        if len(left) == 0 or (not is_diag and len(right) == 0):
            return empty
        A = np.stack(left["emb"].to_numpy())
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        if is_diag:  # within-block upper triangle
            S = An @ An.T
            ia, ib = np.nonzero(
                (S >= threshold) & (a_ids[:, None] < a_ids[None, :])
            )
            return pd.DataFrame({"vec_a": a_ids[ia], "vec_b": a_ids[ib]})
        b_ids = right["vec_id"].to_numpy(dtype=np.int64)
        Bm = np.stack(right["emb"].to_numpy())
        Bn = Bm / np.linalg.norm(Bm, axis=1, keepdims=True)
        S = An @ Bn.T
        ia, ib = np.nonzero(S >= threshold)
        lo = np.minimum(a_ids[ia], b_ids[ib])
        hi = np.maximum(a_ids[ia], b_ids[ib])
        return pd.DataFrame({"vec_a": lo, "vec_b": hi})

    return tagged.groupBy("cell").applyInPandas(cell_pairs, "vec_a long, vec_b long")


@query(
    "cross_source_duplication",
    oracle=f"""
    WITH sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    neardup AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.6)
    SELECT least(da.source, db.source) AS source_x,
           greatest(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM neardup n
    JOIN documents da ON da.doc_id = n.doc_a
    JOIN documents db ON db.doc_id = n.doc_b
    GROUP BY 1, 2
    """,
    tags=("dedup", "reporting", "llm-pipeline"),
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHO copies from WHOM: the near-dup pair graph rolled up to an
    unordered source×source matrix — the report that decides which
    crawl feeds get down-weighted or dropped (heavy off-diagonal mass
    = mirror sites; heavy diagonal = internally duplicative source).
    Pairs come from the same blocked shared-shingle join as
    ``dedup_ngram_jaccard`` (ids only through the shuffle); the two
    source lookups are joins against the slim (doc_id, source)
    projection, and the unordered rollup uses least/greatest so each
    pair lands in exactly one cell."""
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    labeled = (
        pairs.join(
            src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "source", "source_a"
            ),
            "doc_a",
        )
        .join(
            src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "source", "source_b"
            ),
            "doc_b",
        )
    )
    return labeled.groupBy(
        F.least("source_a", "source_b").alias("source_x"),
        F.greatest("source_a", "source_b").alias("source_y"),
    ).agg(F.count(F.lit(1)).alias("n_dup_pairs"))



@query(
    "dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    jac AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.6),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
             FROM reach GROUP BY src),
    csize AS (SELECT cluster_id, COUNT(*) AS cluster_size
              FROM comp GROUP BY cluster_id)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
           CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable
    FROM csize GROUP BY cluster_size
    """,
    tags=("dedup", "reporting", "llm-pipeline"),
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplication PROFILE: how many near-dup families of each size
    the corpus holds, and how many documents dedup would remove
    (``n_removable`` = Σ(size−1)) — the headline number a dedup run
    reports before anyone deletes anything. One rollup over the same
    distributed connected components as ``dedup_cluster_canonical``;
    the oracle recomputes the closure with its recursive CTE."""
    comp = dedup_cluster_canonical(spark, sf_dir).select("cluster_id")
    csize = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return csize.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("bigint").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("bigint").alias("n_removable"),
    )


#: LSH recall budget in ppm of exact J≥0.85 pairs. The 16×8 banding's
#: per-pair miss probability is (1−(1−(1−J^8))^16)… ≈ 0.6% at exactly
#: J=0.85 and <0.02% at J≥0.9, so misses are EXPECTED once the pair
#: count is large (measured 97 ppm on a 236k-pair sf1-equivalent
#: corpus, SCALE.md) — a zero-miss verdict is statistically unsound
#: at scale while 1000 ppm (0.1%) still sits 100× below any broken-
#: banding regime. floor(budget·n/1e6) is 0 for n < 1000, so the gate
#: stays exactly zero-miss at driver-sweep scales.
LSH_MISS_BUDGET_PPM = 1000


@query(
    "lsh_recall_audit",
    oracle=f"""
    WITH sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           1 AS lsh_recall_ok
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.85
    """,
    tags=("dedup", "lsh", "audit", "llm-pipeline"),
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH deployment gate, in the same verdict-row pattern as the
    sketch audits: the banded MinHash path (16×8) runs next to the
    exact shared-shingle ground truth at J≥0.85, and the row carries
    the exact high-similarity pair count (oracle-pinned) plus the
    VERDICT that LSH missed at most the banding S-curve's budget
    (``LSH_MISS_BUDGET_PPM``; exactly zero for small pair counts — see
    the constant's note for why zero-miss cannot survive large
    corpora). A Spark upgrade that perturbs the hashing, or a banding
    misconfiguration, turns the row red at the gate — previously this
    invariant lived only in tests."""
    exact = dedup_ngram_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.85)
    lsh = dedup_fuzzy_minhash(spark, sf_dir).select("doc_a", "doc_b")
    missed = exact.join(lsh, ["doc_a", "doc_b"], "left_anti")
    n_exact = exact.count()
    n_missed = missed.count()
    budget = (n_exact * LSH_MISS_BUDGET_PPM) // 1_000_000
    return local_relation(spark,
        [(n_exact, 1 if n_missed <= budget else 0)],
        "n_exact_pairs bigint, lsh_recall_ok int",
    )


@query(
    "seed_label_closure",
    oracle=f"""
    WITH RECURSIVE sh AS {_SHINGLE_SETS_SQL},
    sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    jac AS (
        SELECT p.doc_a, p.doc_b
        FROM pairs p
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b
        WHERE CAST(p.n_common AS DOUBLE) / (sa.n + sb.n - p.n_common) >= 0.6),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM jac
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM jac),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id
             FROM reach GROUP BY src),
    seeds AS (SELECT doc_id, lang FROM documents WHERE doc_id % 10 = 0),
    comp_label AS (
        SELECT c.cluster_id, s.lang AS seed_label
        FROM comp c JOIN seeds s ON s.doc_id = c.doc_id
        QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                   ORDER BY c.doc_id) = 1)
    SELECT c.doc_id,
           CAST(c.doc_id % 10 = 0 AS INT) AS is_seed,
           cl.seed_label AS propagated_label
    FROM comp c LEFT JOIN comp_label cl ON c.cluster_id = cl.cluster_id
    """,
    tags=("dedup", "graph", "semi-supervised", "llm-pipeline"),
)
def seed_label_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised LABEL COMPLETION through the near-dup graph:
    docs with a trusted label (here every 10th doc's ``lang`` plays the
    human-annotated seed) propagate it to every near-duplicate in
    their connected component — the cheap-label amplification trick
    annotation pipelines run before training a classifier. The
    deterministic rule: a component takes its LOWEST-doc_id seed's
    label; seedless components stay NULL (honest unlabeled). One extra
    join over the same distributed connected components; the oracle
    replays the rule on its recursive-CTE closure."""
    comp = dedup_cluster_canonical(spark, sf_dir).select("doc_id", "cluster_id")
    seeds = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.col("lang").alias("seed_label"))
    )
    seeded = comp.join(seeds, "doc_id")
    w = W.partitionBy("cluster_id").orderBy("doc_id")
    comp_label = (
        seeded.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("cluster_id", "seed_label")
    )
    return comp.join(comp_label, "cluster_id", "left").select(
        "doc_id",
        (F.col("doc_id") % 10 == 0).cast("int").alias("is_seed"),
        F.col("seed_label").alias("propagated_label"),
    )


@query(
    "simhash_recall_audit",
    oracle="""
    WITH keyed AS (
        SELECT array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))),
                   ' ') AS k
        FROM documents WHERE text IS NOT NULL),
    groups AS (SELECT COUNT(*) AS n FROM keyed GROUP BY k HAVING COUNT(*) >= 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_groups,
           CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT)
               AS n_exact_dup_pairs,
           1 AS fp_consistent,
           1 AS zero_hamming_complete
    FROM groups
    """,
    tags=("dedup", "lsh", "audit", "llm-pipeline"),
)
def simhash_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only ``dedup_simhash``
    (the ``lsh_recall_audit`` pattern, made scale-sound by never
    materializing the exact pairs): the oracle independently recounts
    the exact-duplicate census — documents with the IDENTICAL distinct
    token set, i.e. exactly the inputs SimHash's vote stage cannot tell
    apart — and the engine pins two falsifiable guarantees on top of
    it. (a) FP CONSISTENCY: every dup group carries exactly one
    distinct fingerprint (a nondeterministic or partition-dependent
    hash breaks this). (b) ZERO-HAMMING COMPLETENESS: the REAL pair
    stage's hamming=0 output count equals Σ C(n,2) over fingerprint
    groups — the pigeonhole blocking plus dropDuplicates lost no
    identical-fingerprint pair (and can't overcount past it). Both
    sides are group-by aggregates over (key, fp) rows — bytes per row,
    no quadratic pair expansion anywhere but inside the audited
    operator's own bounded output, which is only counted. Census
    grouping is on sha2-256 of the token-set key (collision-free at
    any corpus size — a 64-bit hash would flip verdicts by birthday
    collision around 10^9 distinct keys); NULL-text rows are excluded
    on BOTH engines (they carry no token set — their fingerprint is
    NULL, so they feed neither leg). Exchange diet (VERDICT r9 task
    4): the census key and the fingerprint are FUSED into one
    projection over a single documents scan — the former doc_id join
    of two text derivations is gone — and the groupBy-fp relation is
    aggregated ONCE, feeding both the expected-pair census and the
    blocking stage's distinct-fp input, so one fp exchange serves
    both verdict legs."""
    key = F.array_join(
        F.array_sort(F.array_distinct(F.split("text", " "))), " "
    )
    tok_hash = F.transform(
        F.array_distinct(F.split("text", " ")), lambda t: F.xxhash64(t)
    )
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        # repartition before the sha2-census-key + xxhash64 + vote
        # kernel projection: the whole fingerprint pass otherwise runs
        # inside the single-split scan task at persist materialization
        # — the serial stage behind the entry's 0.82 8-vs-32-core
        # ratio. expand=2, NOT fanned_documents' 10: the persisted
        # relation's partition count is inherited by every downstream
        # aggregate of the audit (~7 stages), so the sweep optimum
        # sits well below the kernel-alone breakeven
        # (tools/tune_fanout.py best-of-4 at sf0.1: serial→2.45 s,
        # 2→1.22, 4→1.27, 12→1.66, 32→1.95); a real corpus still
        # reaches full parallelism through the ∝-bytes clamp
        .repartition(
            adaptive_partitions(spark, sf_dir, "documents", expand=2),
            "doc_id",
        )
        # th is materialized as a COLUMN before the 64 vote folds
        # reference it: inlining the transform expression into the
        # interpreted HOF lambdas would re-hash every token 65× per
        # row (the skipgram lambda-CSE lesson; CollapseProject keeps
        # the projection because th is non-cheap and multiply-used)
        .select("doc_id", F.sha2(key, 256).alias("kh"), tok_hash.alias("th"))
        .select("doc_id", "kh", _simhash_fp_col(F.col("th")).alias("fp"))
        # localCheckpoint, NOT persist: the persisted form kept an ArrowEvalPython node above the
        # InMemoryTableScan in every downstream plan — each of the
        # ~16 AQE stage jobs of this audit re-ran the vote kernel on
        # the cached token hashes (profiled: 3 tasks × ~150 ms of
        # zero-JVM-CPU run per job). The checkpoint materializes the
        # fingerprints ONCE into flat RDD blocks; measured 1.96 → 1.33 s
        # on the identical audit body, bit-identical output. The
        # returned plan reads it: the result's own checkpoint.
        .localCheckpoint(eager=True)
    )
    fps = base.select("doc_id", "fp")

    pair_sum = lambda n: F.coalesce(  # Σ C(n,2), exact integer
        F.sum(F.expr(f"{n} * ({n} - 1) div 2")).cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    grp = base.groupBy("kh").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("fp").alias("n_fp"),
    )
    dup_stats = grp.where(F.col("n") >= 2).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_groups"),
        pair_sum("n").alias("n_exact_dup_pairs"),
        F.coalesce(F.max((F.col("n_fp") > 1).cast("int")), F.lit(0)).alias(
            "fp_split"
        ),
    )

    # ONE fp aggregation serves both legs: the Σ C(n,2) census and the
    # blocked pair stage's distinct-fingerprint input.
    fp_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    zh_expected = (
        fp_counts.where(F.col("fp").isNotNull())
        .agg(pair_sum("n").alias("zh_expected"))
    )
    zh_actual = (
        _simhash_pairs(fps, dfp=fp_counts.select("fp"))
        .where(F.col("hamming") == 0)
        .agg(F.count(F.lit(1)).cast("bigint").alias("zh_actual"))
    )

    return (
        dup_stats.crossJoin(F.broadcast(zh_expected))
        .crossJoin(F.broadcast(zh_actual))
        .select(
            "n_dup_groups",
            "n_exact_dup_pairs",
            (F.col("fp_split") == 0).cast("int").alias("fp_consistent"),
            (F.col("zh_actual") == F.col("zh_expected")).cast("int").alias(
                "zero_hamming_complete"
            ),
        )
    )


# ---------------------------------------------------------------------------
# benchmark decontamination

#: decontamination: n-gram order and overlap threshold
DECON_N = 5
DECON_MIN_HITS = 3


@query(
    "decontaminate_ngram",
    oracle=f"""
    WITH eval_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id < 50),
    train_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id >= 50),
    eval_grams AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ') AS gram
        FROM eval_docs, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS t(i)),
    train_grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ') AS gram
        FROM train_docs, unnest(generate_series(1, len(toks) - {DECON_N - 1})) AS t(i))
    SELECT t.doc_id, COUNT(*) AS n_shared_grams
    FROM train_grams t JOIN eval_grams e USING (gram)
    GROUP BY t.doc_id
    HAVING COUNT(*) >= {DECON_MIN_HITS}
    """,
    tags=("pipeline", "dedup", "decontamination", "llm-pipeline"),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene pass that
    flags training documents sharing ≥k distinct n-grams with an
    evaluation set. Eval docs (tiny by construction) explode to a
    DISTINCT 5-gram set that Catalyst broadcasts; the training corpus
    explodes to (doc_id, gram) pairs that join against it — no shuffle
    of the corpus side, candidates travel as ids+grams only. At 100 TB
    the eval-gram set stays benchmark-sized (MBs), so the broadcast
    pattern holds at any corpus scale."""
    d = load_table(spark, sf_dir, "documents")
    eval_grams = (
        word_ngram_rows(d.where(F.col("doc_id") < 50), DECON_N)
        .select("gram")
        .distinct()
    )
    # join RAW train grams against the broadcast and dedup only the
    # survivors (countDistinct): the corpus-wide (doc_id, gram)
    # dropDuplicates shuffle this replaces is the whole training set's
    # n-grams — post-join it's just the contaminated candidates.
    train_grams = word_ngram_rows(d.where(F.col("doc_id") >= 50), DECON_N)
    return (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
        .where(F.col("n_shared_grams") >= DECON_MIN_HITS)
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
    "dedup_exact_hashkey",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents)
    WHERE rn = 1
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_exact_hashkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on ``xxhash64(text)`` instead of the text
    itself — the 100 TB spelling promised in dedup_exact's docstring:
    the dedup shuffle moves 16 bytes per row (hash, doc_id) instead of
    whole documents, and the keepers re-join the corpus by doc_id to
    recover their columns. Semantically identical to dedup_exact up to
    64-bit hash collisions (~n²/2⁶⁵ — absent at any test SF, and in
    production you'd add a length column to the key), so it shares
    dedup_exact's oracle."""
    d = fanned_documents(spark, sf_dir)
    keepers = (
        d.select(F.xxhash64("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return keepers.join(d, "doc_id").select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Bloom-prefiltered benchmark decontamination

#: n-gram order for the bloom decontamination pass (distinct from
#: decontaminate_ngram's 5-gram/≥3 config: 8-gram, any overlap flags).
BLOOM_N = 8
#: Bloom geometry: 2^16 bits in 1024 longs, 4 probes/key. At the
#: expected eval-gram cardinality (~4k) the false-positive rate is
#: ~0.2%; FPs cost one extra exact-join probe, FNs cannot happen.
BLOOM_BITS = 1 << 16
BLOOM_K = 4


def _bloom_hashes(gram: F.Column, bits: int = BLOOM_BITS) -> list[F.Column]:
    """BLOOM_K independent bit positions per key: xxhash64 with distinct
    salts, folded into [0, bits). All JVM expressions."""
    return [
        F.pmod(F.xxhash64(F.concat(gram, F.lit(f"#bloom{i}"))), F.lit(bits))
        for i in range(BLOOM_K)
    ]


#: plan-literal budget for a packed bloom: at or under this many BYTES
#: of packed longs the probe ships the bloom as a dense array literal
#: (zero extra shuffles, codegen bit arithmetic); above it the probe
#: LEFT-joins the distributed words relation instead, so the driver
#: artifact is O(1) at any member cardinality (an unbudgeted literal
#: ships 16 bits/key unconditionally: ~2 GB in every task closure at
#: 1e9 keys). 128 KiB = 16384 longs ≈ 64k members at
#: 16 bits/key — EXACTLY the `BIG_LITERAL_ELEMS` ceiling of
#: tools/plan_audit.py's oversized-literal red flag, so the sanctioned
#: dense path can never trip the repo's own plan gate (a 4 MiB budget
#: would have let mid-size blooms pass here and flag there).
BLOOM_LITERAL_BUDGET_BYTES = 1 << 17


def _bloom_words(
    keys: DataFrame, key_col: str, bits: int = BLOOM_BITS
) -> DataFrame:
    """Distributed bloom build: salted-xxhash64 bit positions →
    BIT_OR-packed longs, as a SPARSE ``(w int, word bigint)`` relation.
    Never collected here — the build is a distributed reduce at any
    member cardinality; :func:`_bloom_hit` decides (by the byte
    budget) whether the PROBE side may densify it into a plan
    literal. ``bits`` must be a multiple of 64 (the word packing
    indexes bit // 64)."""
    assert bits % 64 == 0 and bits > 0, "bloom bits must be a positive multiple of 64"
    pos = keys.select(
        F.explode(F.array(*_bloom_hashes(F.col(key_col), bits))).alias("h")
    )
    return (
        pos.select(
            (F.col("h") / 64).cast("int").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(h % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )


def _bloom_hit(
    words: DataFrame, probed: DataFrame, key_col: str, bits: int = BLOOM_BITS
) -> DataFrame:
    """Append boolean ``hit``: all BLOOM_K salted bit positions set.

    Two physical strategies, one semantics (any future bloom caller
    inherits both through this single entry point):

    - **dense literal** (``bits/8 ≤ BLOOM_LITERAL_BUDGET_BYTES``):
      collect the sparse words into a packed ``array<bigint>`` literal
      and probe with whole-stage-codegen shift/AND expressions — zero
      extra shuffles, the decontamination fast path (8 KB sketch).
    - **distributed probe** (beyond the budget): the DISTINCT probe
      keys explode into their BLOOM_K word indices, LEFT-join the
      words relation on the word index (an absent word is all-zero ⇒
      bit unset ⇒ miss — false negatives stay impossible), a min-AND
      re-aggregates the per-position checks into one ``hit`` per key,
      and the verdicts join back onto ``probed``. O(1) driver memory
      at any member count; both join sides are hash-partitioned on
      bounded-width keys.

    A NULL probe key behaves identically on both paths: ``xxhash64``
    skips NULL inputs, so every NULL key probes the same constant
    positions (the empty-input hash) — almost always a miss. The
    distributed path keeps NULL keys via a null-safe join so the two
    strategies are bit-identical (pinned by
    ``test_bloom_distributed_probe_matches_dense_literal``)."""
    if bits // 8 <= BLOOM_LITERAL_BUDGET_BYTES:
        packed = [0] * (bits // 64)
        for r in words.collect():
            packed[r["w"]] = r["word"]
        # The packed words ride a ONE-ROW broadcast relation, not a
        # plan literal: F.lit(packed) builds a
        # CreateArray of bits/64 literal nodes that the probe columns
        # referenced once per hash — a 4×1024-node expression tree that
        # cost ~2.4 s of driver analysis/codegen per call (profiled:
        # stage wall 0.7 s vs query wall 3.2 s). A broadcast-joined
        # array column is the same probe arithmetic and the same
        # whole-stage-codegen shift/AND — the 8 KB sketch just ships as
        # broadcast DATA instead of expression-tree nodes.
        bloom_df = local_relation(probed.sparkSession,
            [(packed,)], "__bloom array<bigint>"
        )
        probed = probed.crossJoin(F.broadcast(bloom_df))
        bloom = F.col("__bloom")
        helper_cols = ["__bloom"]
        hit = F.lit(True)
        for i, h in enumerate(_bloom_hashes(F.col(key_col), bits)):
            probed = probed.withColumn(f"h{i}", h).withColumn(
                f"w{i}",
                F.element_at(bloom, (F.col(f"h{i}") / 64).cast("int") + 1),
            )
            helper_cols += [f"h{i}", f"w{i}"]
            hit = hit & F.expr(
                f"(shiftright(w{i}, CAST(h{i} % 64 AS INT)) & CAST(1 AS BIGINT))"
                " = CAST(1 AS BIGINT)"
            )
        # drop the h{i}/w{i} scratch so BOTH strategies return exactly
        # probed-columns + hit — a caller's schema must not change when
        # the byte budget flips the physical path
        return probed.withColumn("hit", hit).drop(*helper_cols)
    keys = probed.select(F.col(key_col).alias("__bk")).distinct()
    kpos = keys.select(
        "__bk",
        F.explode(
            F.array(*_bloom_hashes(F.col("__bk"), bits))
        ).alias("__h"),
    ).select(
        "__bk",
        (F.col("__h") / 64).cast("int").alias("w"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__h % 64 AS INT))").alias(
            "__mask"
        ),
    )
    hits = (
        kpos.join(words, "w", "left")
        .select(
            "__bk",
            (
                F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("__mask"))
                == F.col("__mask")
            )
            .cast("int")
            .alias("__set"),
        )
        .groupBy("__bk")
        .agg((F.min("__set") == 1).alias("hit"))
    )
    return probed.join(
        hits, F.col(key_col).eqNullSafe(F.col("__bk")), "left"
    ).drop("__bk")


@query(
    "decontaminate_bloom",
    oracle=f"""
    WITH eval_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id < 50),
    train_docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE doc_id >= 50),
    eval_grams AS (
        SELECT DISTINCT array_to_string(list_slice(toks, i, i + {BLOOM_N - 1}), ' ') AS gram
        FROM eval_docs, unnest(generate_series(1, len(toks) - {BLOOM_N - 1})) AS t(i)),
    train_grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + {BLOOM_N - 1}), ' ') AS gram
        FROM train_docs, unnest(generate_series(1, len(toks) - {BLOOM_N - 1})) AS t(i))
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM train_grams t JOIN eval_grams e USING (gram)
    GROUP BY t.doc_id
    """,
    tags=("pipeline", "dedup", "decontamination", "bloom", "llm-pipeline"),
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a Bloom prefilter — the shape that survives
    when the eval-gram set outgrows a comfortable broadcast hash table.
    The engine builds the Bloom filter itself, in pure Spark SQL: eval
    8-grams hash to 4 (BLOOM_K) bit positions (salted xxhash64), a
    BIT_OR aggregate packs them into 1024 longs (a distributed
    reduce to an 8 KB sketch), and the probe is word-index + shift
    expressions over that array literal — whole-stage codegen, no UDF,
    no per-executor hash table. Training grams that pass the bloom
    (FP rate ~0.2%) go through an exact confirm join, so the result is
    exact: Bloom filters admit false positives but never false
    negatives. At 100 TB the corpus side is filtered to candidates
    BEFORE any join/shuffle — the sketch costs 8 KB per task regardless
    of eval-set size growth (vs a broadcast table growing linearly)."""
    d = load_table(spark, sf_dir, "documents")
    eval_grams = (
        word_ngram_rows(d.where(F.col("doc_id") < 50), BLOOM_N)
        .select("gram")
        .distinct()
    )
    # build: positions → (word, bit) → BIT_OR per word → 1024 longs;
    # at 2^16 bits the probe densifies it into an ~8 KB plan literal
    words = _bloom_words(eval_grams, "gram")
    # repartition the train side before its gram explode: the explode +
    # 4-hash bloom probe otherwise run inside the single-split scan
    # task (profiled serial); raw text bytes shuffle, gram rows don't.
    # Geometry-derived count: expand=75 ≈ the 8-token-gram bytes per
    # parquet byte (~10× text decompression × ~7.5× gram
    # materialization) — the probe is compute-heavy enough that the
    # sweep prefers full width at sf0.1
    # (tools/tune_fanout.py best-of-4: 8→0.722 s, 16→0.720, 32→0.658),
    # and the clamp keeps tiny inputs from paying 32 fixed task costs
    from watermill_kinesis_spark.sources.tables import adaptive_partitions

    train_grams = word_ngram_rows(
        d.where(F.col("doc_id") >= 50).repartition(
            adaptive_partitions(spark, sf_dir, "documents", expand=75),
            "doc_id",
        ),
        BLOOM_N,
    )
    candidates = (
        _bloom_hit(words, train_grams, "gram")
        .where("hit")
        .select("doc_id", "gram")
    )
    return (
        candidates.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_shared_grams"))
    )


# ---------------------------------------------------------------------------
# paragraph-block duplication profile

#: tokens per block for dedup_paragraph (non-overlapping; trailing
#: partial blocks are dropped so every block is exactly this long).
BLOCK_TOKENS = 20


@query(
    "dedup_paragraph",
    oracle=f"""
    WITH blocks AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, i, i + {BLOCK_TOKENS - 1}), ' ') AS block
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             unnest(generate_series(1, len(toks) - {BLOCK_TOKENS - 1}, {BLOCK_TOKENS}))
                 AS t(i)),
    block_docs AS (
        SELECT block, COUNT(DISTINCT doc_id) AS n_docs FROM blocks GROUP BY block)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COUNT_IF(bd.n_docs > 1) AS BIGINT) AS n_dup_blocks,
           CAST(COUNT_IF(bd.n_docs > 1) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS dup_block_ratio
    FROM blocks b JOIN block_docs bd USING (block)
    GROUP BY b.doc_id
    """,
    tags=("pipeline", "dedup", "llm-pipeline"),
)
def dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-granular duplication profile — the sub-document dedup
    pass (boilerplate headers, license blocks, templated spans) that
    document-level MinHash misses. Documents split into non-overlapping
    20 (BLOCK_TOKENS)-token blocks; a block seen in more than one document
    is corpus-duplicated; each document reports its duplicated-block
    ratio. NO block-keyed join anywhere (the ngram_novelty_score
    lesson: joining instances back to a corpus-derived block
    dictionary leaves AQE free to broadcast the dictionary —
    plan_audit's DictBcast column flags that shape): instances
    collapse to (doc_id, block, multiplicity) rows, a COUNT window
    over the block partition attaches each block's distinct-doc count
    in place — one row per (doc, block), so the window input is the
    dictionary relation itself — and the per-doc profile is one more
    doc-keyed aggregate. Three shuffles, all on corpus-cardinality
    keys. Blocks are grouped by their text to stay hash-collision-free
    for the oracle; at 100 TB swap the key for xxhash64(block)
    (16 bytes/row, same plan shape — see dedup_exact_hashkey) and
    explode paragraphs instead of fixed token windows."""
    d = load_table(spark, sf_dir, "documents")
    blocks = word_ngram_rows(d, BLOCK_TOKENS, step=BLOCK_TOKENS).select(
        "doc_id", F.col("gram").alias("block")
    )
    from pyspark.sql import Window as W

    inst = blocks.groupBy("doc_id", "block").agg(
        F.count(F.lit(1)).alias("m")
    )
    # one row per (doc, block) ⇒ rows in the block partition ARE the
    # block's distinct docs; the unordered COUNT window reads the
    # dictionary-sized relation once, joins nothing
    n_docs = F.count(F.lit(1)).over(W.partitionBy("block"))
    prof = inst.select("doc_id", "m", (n_docs > 1).alias("dup"))
    return prof.groupBy("doc_id").agg(
        F.sum("m").cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("dup"), F.col("m")).otherwise(0))
        .cast("bigint")
        .alias("n_dup_blocks"),
        (
            F.sum(F.when(F.col("dup"), F.col("m")).otherwise(0)).cast("double")
            / F.sum("m").cast("double")
        ).alias("dup_block_ratio"),
    )


# ---------------------------------------------------------------------------
# edit-distance near-dup (blocked Levenshtein verify)

#: prefix block for candidate generation and the comparison window /
#: acceptance threshold for the Levenshtein verify
LEV_BLOCK = 64
LEV_WINDOW = 240
LEV_MAX_DIST = 60


@query(
    "dedup_levenshtein",
    oracle=f"""
    WITH d AS (SELECT doc_id, text FROM documents
               WHERE LENGTH(text) >= {LEV_BLOCK})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(SUBSTRING(a.text, 1, {LEV_WINDOW}),
                            SUBSTRING(b.text, 1, {LEV_WINDOW})) AS BIGINT)
               AS edit_dist
    FROM d a JOIN d b
      ON SUBSTRING(a.text, 1, {LEV_BLOCK}) = SUBSTRING(b.text, 1, {LEV_BLOCK})
     AND a.doc_id < b.doc_id
    WHERE levenshtein(SUBSTRING(a.text, 1, {LEV_WINDOW}),
                      SUBSTRING(b.text, 1, {LEV_WINDOW})) <= {LEV_MAX_DIST}
    """,
    tags=("dedup", "llm-pipeline"),
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: candidate pairs block on the first
    64 (LEV_BLOCK) characters (equi-join on a short key — same shape as
    dedup_prefix_containment), then verify with exact Levenshtein over
    a fixed 240 (LEV_WINDOW)-char window. The window cap is the scale
    guard: Levenshtein is O(n·m) per pair, so the engine bounds the
    comparison cost per candidate to a constant regardless of document
    length — the standard trick for edit-distance verify at corpus
    scale (full-length distance only ever runs on pairs that already
    passed the windowed check downstream). Both engines implement
    classic unit-cost Levenshtein, so the result is exactly
    oracle-checkable — a rarity among fuzzy-match operators."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.length("text") >= LEV_BLOCK)
        .select(
            "doc_id",
            F.substring("text", 1, LEV_BLOCK).alias("blk"),
            F.substring("text", 1, LEV_WINDOW).alias("win"),
        )
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "blk", F.col("win").alias("win_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "blk", F.col("win").alias("win_b")
    )
    dist = F.levenshtein("win_a", "win_b")
    return (
        a.join(b, "blk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", dist.cast("bigint").alias("edit_dist"))
        .where(F.col("edit_dist") <= LEV_MAX_DIST)
    )


#: measured false-positive budget for the bloom audit, in permille of
#: probes, paired with a geometry DERIVED from member cardinality
#: (BLOOM_AUDIT_BITS_PER_KEY bits/key, k=4): fill stays ≈ 1−e^(−1/4)
#: ≈ 0.22 at ANY member count, so theoretical fpp ≈ 2.4e-3 — the 100‰
#: budget is scale-invariant (the fixed-geometry spelling would
#: mechanically trip the verdict once members outgrow the bit array;
#: cf. the LSH miss-budget lesson in SCALE.md).
BLOOM_FPP_BUDGET_PERMILLE = 100
BLOOM_AUDIT_BITS_PER_KEY = 16

@query(
    "bloom_fpp_audit",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_members,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_probes,
           1 AS all_members_contained,
           1 AS fpp_within_budget
    FROM events
    """,
    tags=("sketch", "bloom", "statistics", "audit"),
)
def bloom_fpp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter guarantee audit, the ``hll_accuracy_audit`` pattern
    applied to ``decontaminate_bloom``'s sketch: build the bloom over
    every distinct member key (a distributed BIT_OR reduce to a
    bit array sized 16 bits/key),
    then pin BOTH sides of the bloom contract — (a) zero false
    negatives: every member key probes back as contained; (b) bounded
    false positives: a same-size DISJOINT key set (salt-prefixed, so
    no probe is a member) measures the empirical fp rate, which must
    sit under BLOOM_FPP_BUDGET_PERMILLE. The oracle pins the exact
    member/probe counts and both verdicts; the raw fp count stays
    engine-internal (it is a property of the hash geometry, not of
    the data). Probing is whole-stage-codegen bit arithmetic — at
    100 TB both probe passes are embarrassingly parallel map work.
    Geometry: the bit width is derived from the measured member
    cardinality (16 bits/key, power-of-two, 2^16 floor), so the
    theoretical fpp — and therefore the 100‰ budget's soundness — is
    the same at sf0.001 and at the sf1-equivalent sweep; a genuinely
    broken hash/pack/probe path still flips the verdict instantly."""
    ev = load_table(spark, sf_dir, "events")
    # materialize the distinct member set: it feeds the count, the
    # build, and the probe union — one shuffle instead of three. The
    # returned plan reads it: the result's own checkpoint.
    members = (
        ev.where(F.col("user_id").isNotNull())  # a NULL key has no hash
        .select(F.col("user_id").cast("string").alias("key"))
        .distinct()
        .localCheckpoint()
    )
    # geometry scales with membership: next power of two ≥ 16 bits/key
    # (floor 2^16). The driver artifact no longer scales with it:
    # _bloom_hit densifies the packed words into a plan literal only
    # while bits/8 fits BLOOM_LITERAL_BUDGET_BYTES (n_members·2 bytes —
    # KBs at the bench scales) and beyond that probes the distributed
    # words relation with a left join, so the audit is O(1) driver
    # memory at 1e9 members too.
    n_est = members.count()
    bits = max(
        BLOOM_BITS, 1 << (n_est * BLOOM_AUDIT_BITS_PER_KEY - 1).bit_length()
    )
    words = _bloom_words(members, "key", bits)
    # one fused probe pass: members flagged is_member=1, the disjoint
    # salt-prefixed set is_member=0
    probes = members.select("key", F.lit(1).alias("is_member")).unionAll(
        members.select(
            F.concat(F.lit("fpprobe:"), F.col("key")).alias("key"),
            F.lit(0).alias("is_member"),
        )
    )
    m = F.col("is_member") == 1
    hitc = F.col("hit").cast("int")
    agg = _bloom_hit(words, probes, "key", bits).agg(
        F.sum(m.cast("int")).cast("bigint").alias("n_members"),
        F.sum((~m).cast("int")).cast("bigint").alias("n_probes"),
        F.sum(F.when(m, hitc).otherwise(0)).cast("bigint").alias("n_contained"),
        F.sum(F.when(~m, hitc).otherwise(0)).cast("bigint").alias("n_fp"),
    )
    return agg.select(
        "n_members",
        "n_probes",
        (F.col("n_contained") == F.col("n_members"))
        .cast("int")
        .alias("all_members_contained"),
        (
            F.lit(1000) * F.col("n_fp")
            <= F.lit(BLOOM_FPP_BUDGET_PERMILLE) * F.col("n_probes")
        )
        .cast("int")
        .alias("fpp_within_budget"),
    )


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
    # Repartition by doc_id BEFORE the gram explode ("project before
    # the exchange", inverted: exchange before the explode): the
    # explode+md5 otherwise runs in the single-split scan task
    # (profiled 3.7 s serial) and the doc_id window then shuffles the
    # EXPLODED rows — 52 MB of md5
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
    # posting-array pair emission, not a self-join (the
    # _shared_shingle_pairs idiom): the aliased
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


# ---------------------------------------------------------------------------
# exact-substring EXCISION — the Lee et al. 2022 pipeline's actual
# output: the corpus with duplicate spans REMOVED, not just the pair
# graph dedup_exact_substring detects

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
    # ONE linear pass computes BOTH candidate signals: branching kg into
    # a fps subtree and an intra-count subtree made Spark re-run the
    # whole gram explode per branch (~12 s CPU each at sf0.1, profiled).
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


# ---------------------------------------------------------------------------
# dedup token accounting


@query(
    "dedup_token_savings",
    oracle="""
    WITH keyed AS (
        SELECT source, len(string_split(text, ' ')) AS ntok,
               ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM documents WHERE text IS NOT NULL)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT_IF(rn = 1) AS BIGINT) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS tok_total,
           CAST(COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0) AS BIGINT)
               AS tok_kept,
           CAST(1000 * (SUM(ntok)
                        - COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0))
                // SUM(ntok) AS BIGINT) AS savings_permille
    FROM keyed GROUP BY source
    """,
    tags=("dedup", "pipeline", "llm-pipeline"),
)
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget accounting for exact dedup — the number a training
    -data pipeline actually reports upward: per source, how many
    tokens the corpus holds, how many survive keep-first exact dedup,
    and the savings in permille (what dedup buys before any fuzzy
    pass). Keep-first = ROW_NUMBER over the text partition ordered by
    doc_id — NO join against a text dictionary anywhere (the
    dedup_paragraph/ngram_novelty lesson: a corpus-derived text key
    must never be a join build side); the window's partition key is
    corpus-cardinality, so parallelism is intact, and token counts
    ride size(split(·)) per doc row — no explode. int64-safe
    trivially (token totals)."""
    keyed = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            F.size(F.split("text", " ")).alias("ntok"),
            F.row_number()
            .over(W.partitionBy("text").orderBy("doc_id"))
            .alias("rn"),
        )
    )
    kept = F.sum(F.when(F.col("rn") == 1, F.col("ntok")))
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("rn") == 1).cast("bigint").alias("n_kept"),
        F.sum("ntok").cast("bigint").alias("tok_total"),
        F.coalesce(kept, F.lit(0)).cast("bigint").alias("tok_kept"),
        F.expr(
            "CAST((1000 * (SUM(ntok)"
            " - COALESCE(SUM(CASE WHEN rn = 1 THEN ntok END), 0)))"
            " div SUM(ntok) AS BIGINT)"
        ).alias("savings_permille"),
    )


# ---------------------------------------------------------------------------
# incremental-ingest exact dedup delta

#: the "new batch" is the last fifth of the doc_id ingest range —
#: deterministic, scale-free, and non-degenerate at every SF
INGEST_SPLIT_NUM = 4
INGEST_SPLIT_DEN = 5


@query(
    "ingest_dedup_delta",
    oracle=f"""
    WITH bounds AS (
        SELECT MIN(doc_id) AS lo,
               MIN(doc_id) + (MAX(doc_id) - MIN(doc_id) + 1)
                   * {INGEST_SPLIT_NUM} // {INGEST_SPLIT_DEN} AS cut
        FROM documents),
    hashed AS (
        SELECT doc_id, source, md5(text) AS h,
               len(string_split(text, ' ')) AS ntok,
               doc_id >= (SELECT cut FROM bounds) AS is_new
        FROM documents WHERE text IS NOT NULL),
    old_h AS (SELECT DISTINCT h FROM hashed WHERE NOT is_new),
    newb AS (
        SELECT n.*, o.h IS NOT NULL AS dup_corpus,
               ROW_NUMBER() OVER (PARTITION BY n.h ORDER BY n.doc_id) AS rn
        FROM hashed n LEFT JOIN old_h o USING (h)
        WHERE n.is_new)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(COUNT_IF(dup_corpus) AS BIGINT) AS n_dup_corpus,
           CAST(COUNT_IF(NOT dup_corpus AND rn > 1) AS BIGINT)
               AS n_dup_intra,
           CAST(COUNT_IF(NOT dup_corpus AND rn = 1) AS BIGINT) AS n_kept,
           CAST(SUM(ntok) AS BIGINT) AS tok_new,
           CAST(COALESCE(SUM(CASE WHEN NOT dup_corpus AND rn = 1
                                  THEN ntok END), 0) AS BIGINT) AS tok_kept
    FROM newb GROUP BY source
    """,
    tags=("dedup", "pipeline", "llm-pipeline"),
)
def ingest_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup accounting — the shape a production
    pipeline actually runs (nobody re-dedups 100 TB per crawl): the
    NEW batch (last fifth of the ingest-ordered doc_id range, a
    deterministic stand-in for "this week's crawl") is checked
    against the EXISTING corpus by exact text hash, then within
    itself by keep-first. Per source of the new batch: docs already
    in the corpus, intra-batch duplicates, survivors, and the token
    budget before/after. The corpus probe is a LEFT join against the
    distinct old-hash relation pinned ``merge``: both sides grow with
    the corpus and the build side is a corpus-derived content-hash
    dictionary — never broadcastable (the r9/r10 rule; shuffled-hash
    builds die at AQE's coalesced-partition sizes, the simhash
    lesson). Intra-batch keep-first is a window over the hash
    partition — no dictionary join at all (the dedup_token_savings
    shape). The ingest cut itself is one scalar MIN/MAX aggregate."""
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bounds = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hihi")
    ).selectExpr(
        "lo",
        f"lo + ((hihi - lo + 1) * {INGEST_SPLIT_NUM})"
        f" div {INGEST_SPLIT_DEN} AS cut",
    )
    hashed = d.crossJoin(F.broadcast(bounds)).select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(F.split("text", " ")).alias("ntok"),
        (F.col("doc_id") >= F.col("cut")).alias("is_new"),
    )
    old_h = hashed.where(~F.col("is_new")).select("h").distinct()
    newb = hashed.where("is_new").join(
        old_h.select(F.col("h"), F.lit(True).alias("dup_corpus")).hint(
            "merge"
        ),
        "h",
        "left",
    )
    rn = F.row_number().over(W.partitionBy("h").orderBy("doc_id"))
    newb = newb.select(
        "source",
        "ntok",
        F.coalesce("dup_corpus", F.lit(False)).alias("dup_corpus"),
        rn.alias("rn"),
    )
    kept = ~F.col("dup_corpus") & (F.col("rn") == 1)
    return newb.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.count_if(F.col("dup_corpus")).cast("bigint").alias("n_dup_corpus"),
        F.count_if(~F.col("dup_corpus") & (F.col("rn") > 1))
        .cast("bigint")
        .alias("n_dup_intra"),
        F.count_if(kept).cast("bigint").alias("n_kept"),
        F.sum("ntok").cast("bigint").alias("tok_new"),
        F.coalesce(F.sum(F.when(kept, F.col("ntok"))), F.lit(0))
        .cast("bigint")
        .alias("tok_kept"),
    )
