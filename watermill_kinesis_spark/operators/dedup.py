"""Deduplication operators — exact and near-dup — over ``documents`` /
``embeddings`` (north-star LLM-pipeline layer).

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
