"""Similarity search over the ``embeddings`` table (north-star
LLM-pipeline layer).

Two tiers, per SURVEY.md §2-C:
- ``similarity_topk`` — brute-force cosine top-k, the exact baseline.
  Queries are broadcast; the big side is scanned once, never shuffled
  for the join; per-group top-k goes through WindowGroupLimit so only
  k rows per query survive the exchange.
- ``similarity_ann_lsh`` — sign-random-projection LSH buckets, the
  100 TB path: the corpus is hashed once into 2^16 buckets; a query
  probes only its own bucket. Recall is tunable by bands/bits.

Vector math runs in Arrow-vectorized numpy kernels (``mapInPandas``):
Spark's array higher-order functions evaluate interpreted per element,
which measures 10-100× slower than BLAS on 64-dim vectors — this is
precisely the "built-ins genuinely can't express it efficiently" case
where a Pandas UDF is the idiomatic choice. Relational work (top-k
windows, bucket joins, filters) stays JVM-side. The oracle compares
(query, neighbor, rank) identity only: scores stay engine-internal so a
1-ulp float difference can't flake the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import load_table

TOP_K = 5
N_QUERIES = 8
#: LSH: bands × bits-per-band. A pair is a candidate if ANY band's
#: sign-bit code matches (OR-amplification) — bands trade precision for
#: recall exactly like MinHash banding.
LSH_BANDS, LSH_BITS = 16, 4
EMB_DIM = 64


def _emb(
    spark: SparkSession,
    sf_dir: str,
    distribute: bool = False,
    fixed: bool = False,
) -> DataFrame:
    """embeddings as ``(vec_id, emb array<double>, …)``: the other
    columns (``label`` in the testdata table) ride along.
    ``distribute=True`` repartitions by vec_id for operators that do
    CPU-bound per-row kernel work over the whole corpus (64 LSH
    projections per row, the iterative k-means / k-center / PCA passes);
    it is left off for broadcast-probe shapes, where the extra shuffle
    costs more than it buys.

    The partition count is ``adaptive_partitions`` of the on-disk size:
    the iterative fits run ~10 Python-kernel stages per call, and a
    32-partition layout of a small corpus pays 32 × ~20 ms of
    Python-task fixed cost per stage for microseconds of BLAS work
    (measured 5.2 s → 3.3 s on the k-center audit at sf0.1), while a
    real corpus still reaches defaultParallelism. ``fixed=True`` keeps
    the defaultParallelism layout for the one consumer
    (similarity_ann_pq) whose batch-local candidate pool makes its
    approximate OUTPUT depend on the batch layout."""
    t = load_table(spark, sf_dir, "embeddings")
    e = t.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        *[c for c in t.columns if c not in ("vec_id", "embedding")],
    )
    if distribute:
        from watermill_kinesis_spark.sources.tables import adaptive_partitions

        n = (
            spark.sparkContext.defaultParallelism
            if fixed
            else adaptive_partitions(spark, sf_dir, "embeddings")
        )
        e = e.repartition(n, "vec_id")
    return e


def batch_topk(S, ids, k):
    """Exact batch-local top-k per query column, ordered by
    (score DESC, id ASC) — the SAME total order the global merge
    window uses. ``np.argpartition`` selects by score alone, so when
    the k-th boundary is a TIE (duplicate embeddings — guaranteed on
    a replicated corpus, common in any deduplicating pipeline), the
    batch keeps an arbitrary tied candidate and may discard exactly
    the row the global (score DESC, id ASC) ranking needs: the merged
    result is then wrong, not just reordered. The r12 100× census
    caught this as value drift in three top-k ops. lexsort keys
    (id minor, -score major) reproduce the global order batch-locally;
    cost is O(n log n) per query column over argpartition's O(n) —
    immaterial against the BLAS matmul that precedes it. Masked
    entries (-inf) sort last and are dropped by the callers'
    isfinite filter."""
    import numpy as np

    order = np.lexsort(
        (np.broadcast_to(ids[:, None], S.shape), -S), axis=0
    )
    return order[:k]


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(c):
    return F.sqrt(
        F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


@query(
    "similarity_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS score
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "llm-pipeline"),
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k for a query set.

    The query matrix (tiny — it is the *query*, not data) ships to every
    executor in the kernel closure; each Arrow batch of the corpus does
    one BLAS matmul against it and emits only its batch-local top-k per
    query. The global window then merges ≤ k·batches rows per query —
    the tree-top-k pattern: O(|corpus|·|queries|·dim) flops, but rows
    moved are O(k · batches), independent of corpus size."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir, distribute=True)
    qrows = sorted(
        e.where(F.col("vec_id") < N_QUERIES).select("vec_id", "emb").collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.emb for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.stack(pdf["emb"].to_numpy())
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T  # |batch| × |queries|
            S[ids[:, None] == qids[None, :]] = -np.inf  # mask self-match
            k = min(TOP_K, len(ids))
            top = batch_topk(S, ids, k)  # k × |queries|, tie-exact
            out_q = np.repeat(qids[None, :], k, axis=0).ravel()
            out_n = ids[top].ravel()
            out_s = np.take_along_axis(S, top, axis=0).ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "neighbor_id": out_n[keep],
                    "score": out_s[keep],
                }
            )

    scored = e.select("vec_id", "emb").mapInPandas(
        kernel, "query_id long, neighbor_id long, score double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _hyperplanes(n: int = LSH_BANDS * LSH_BITS) -> list[list[float]]:
    """Deterministic pseudo-random Gaussian hyperplanes (Box–Muller over
    a seeded LCG — no numpy, reproducible anywhere)."""
    import math

    state = 0x5DEECE66D
    planes: list[list[float]] = []
    for _ in range(n):
        v = []
        for _ in range(EMB_DIM // 2):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            u1 = (state >> 11) / float(1 << 52) or 1e-12
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            u2 = (state >> 11) / float(1 << 52)
            r = math.sqrt(-2.0 * math.log(u1))
            v.append(r * math.cos(2.0 * math.pi * u2))
            v.append(r * math.sin(2.0 * math.pi * u2))
        planes.append(v)
    return planes


#: input rows per yielded band frame: each input row fans out ×16
#: bands WITH its embedding repeated, so an unchunked yield turns a
#: 10k-row Arrow input batch into ONE ~85 MB Arrow output message —
#: 8 concurrent workers exhausted the vanilla session's 1 GiB direct
#: -memory pool at the 100× replica (the Python→JVM arrow stream is
#: framed by what the kernel yields, not by maxRecordsPerBatch).
#: 2048 inputs → ~32k output rows ≈ 17 MB per message.
BAND_YIELD_ROWS = 2048


def band_coded(e: DataFrame) -> DataFrame:
    """(vec_id, emb, band, code): one row per band per vector; codes
    come from a single numpy sign-projection matmul per Arrow batch
    (the interpreted-HOF spelling costs 64 per-row fold evaluations),
    emitted in bounded slices (see BAND_YIELD_ROWS)."""
    import numpy as np
    import pandas as pd

    P = np.array(_hyperplanes(), dtype=np.float64)  # (bands·bits) × dim
    weights = 1 << np.arange(LSH_BITS, dtype=np.int64)  # per-band bit weights

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            n = len(pdf)
            M = np.stack(pdf["emb"].to_numpy())  # n × dim
            bits = ((M @ P.T) >= 0).reshape(n, LSH_BANDS, LSH_BITS)
            codes = (bits * weights).sum(axis=2).astype(np.int32)  # n × bands
            for lo in range(0, n, BAND_YIELD_ROWS):
                sl = slice(lo, min(lo + BAND_YIELD_ROWS, n))
                m = sl.stop - sl.start
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(
                            pdf["vec_id"].to_numpy()[sl], LSH_BANDS
                        ),
                        "emb": np.repeat(pdf["emb"].to_numpy()[sl], LSH_BANDS),
                        "band": np.tile(
                            np.arange(LSH_BANDS, dtype=np.int32), m
                        ),
                        "code": codes[sl].ravel(),
                    }
                )

    return e.select("vec_id", "emb").mapInPandas(
        kernel, "vec_id long, emb array<double>, band int, code int"
    )


@query("similarity_ann_lsh", tags=("similarity", "lsh", "llm-pipeline"))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: corpus hashed once into 16 band buckets of 4 sign
    bits each; a query meets only rows sharing ≥1 band bucket (shuffle
    keyed on (band, code) — no broadcast needed at 100 TB; co-bucket
    rows co-locate). Exact cosine re-rank on the candidate union.
    Rows-only check: bucket membership is LSH-approximate by design;
    recall is audited in tests against the exact `similarity_topk`."""
    e = band_coded(_emb(spark, sf_dir, distribute=True))
    q = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        "band",
        "code",
    )
    cand = (
        e.join(q, ["band", "code"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"), "emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = _dot(F.col("qe"), F.col("emb")) / (_norm(F.col("qe")) * _norm(F.col("emb")))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


#: IVF: cells probed per query (out of k = #labels coarse cells)
IVF_NPROBE = 2


@query("similarity_ann_ivf", tags=("similarity", "ivf", "llm-pipeline"))
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN — the other classic scale path next to
    LSH (`similarity_ann_lsh`):

    1. **Coarse quantizer**: k centroid vectors (here the per-label
       means, computed distributedly via posexplode+avg — k·dim values,
       always driver-sized regardless of corpus size).
    2. **Assign**: one Arrow-batched matmul per corpus batch ranks the
       k cells; a corpus vector lives in its top cell, a query probes
       its ``IVF_NPROBE`` best cells.
    3. **Search**: equi-join on cell id — each query meets only
       ~nprobe/k of the corpus; exact cosine re-rank on candidates.

    The join is a plain shuffle on a low-cardinality int key (no
    broadcast needed at 100 TB; cells co-locate), and recall/cost is
    tuned by nprobe exactly like FAISS IVF. Rows-only check (ANN is
    approximate by design); recall vs the exact `similarity_topk` is
    audited in tests."""
    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir, distribute=True)
    cent_rows = (
        e.select("label", F.posexplode("emb").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
        .collect()
    )
    labels = sorted({r.label for r in cent_rows})
    lab_idx = {lab: j for j, lab in enumerate(labels)}
    C = np.zeros((len(labels), EMB_DIM), dtype=np.float64)
    for r in cent_rows:
        C[lab_idx[r.label], r.i] = r.c
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Cn.T  # n × k
            order = np.argsort(-S, axis=1)[:, :IVF_NPROBE].astype(np.int32)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "emb": pdf["emb"],
                    "cells": list(order),
                }
            )

    # the corpus and query legs both read the assignment: materialize
    # the kernel once, as the result's own checkpoint
    a = e.select("vec_id", "emb").mapInPandas(
        assign, "vec_id long, emb array<double>, cells array<int>"
    ).localCheckpoint()
    corpus = a.select("vec_id", "emb", F.col("cells")[0].alias("cell"))
    q = (
        a.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qe"),
            F.explode("cells").alias("cell"),
        )
    )
    cand = (
        corpus.join(q, "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "qe", F.col("vec_id").alias("neighbor_id"), "emb")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = _dot(F.col("qe"), F.col("emb")) / (_norm(F.col("qe")) * _norm(F.col("emb")))
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        cand.select("query_id", "neighbor_id", cos.alias("score"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


#: ANN recall floors, in permille of exact-top-k hits, with margin
#: below the observed recalls (LSH ≈ 0.4+, IVF ≈ 0.3+ on this data —
#: tests/test_llm_ops.py) so a real recall collapse trips the oracle
#: compare while band/centroid jitter does not
ANN_LSH_RECALL_FLOOR = 300
ANN_IVF_RECALL_FLOOR = 200


def _ann_recall_audit(
    spark: SparkSession, sf_dir: str, ann: DataFrame, floor_permille: int
) -> DataFrame:
    """Shared audit body: join the ANN's (query, neighbor) pairs
    against the exact brute-force top-k, emit ONE row with the
    engine-stable facts — query count, k, the exact top-1 identity
    anchor — and the recall VERDICT (total hits ≥ floor). The
    engine-specific hit count itself never crosses the compare (ANN
    candidate sets may wiggle with float partial-sum order); its
    correctness envelope does — the ``hll_accuracy_audit`` pattern."""
    # eager, like lsh_recall_audit: the three scalars are computed NOW
    # so the cached brute-force result is released before returning
    with Scope(spark) as scope:
        exact = scope.persisted(similarity_topk(spark, sf_dir))
        n_hits = exact.join(
            ann.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).count()
        base = exact.agg(
            F.countDistinct("query_id").cast("bigint").alias("n_queries"),
            F.sum(F.when(F.col("rank") == 1, F.col("neighbor_id")))
            .cast("bigint")
            .alias("exact_top1_sum"),
        ).collect()[0]
    ok = 1 if n_hits * 1000 >= floor_permille * base.n_queries * TOP_K else 0
    return local_relation(spark, 
        [(base.n_queries, TOP_K, base.exact_top1_sum, ok)],
        "n_queries bigint, k bigint, exact_top1_sum bigint, recall_ok int",
    )


_ANN_AUDIT_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS score
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id),
    topk AS (
        SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {TOP_K})
    SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(SUM(CASE WHEN rank = 1 THEN neighbor_id END) AS BIGINT)
               AS exact_top1_sum,
           1 AS recall_ok
    FROM topk
    """


@query(
    "ann_lsh_recall_audit",
    oracle=_ANN_AUDIT_ORACLE,
    tags=("similarity", "lsh", "audit", "llm-pipeline"),
)
def ann_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed twin of the rows-only ``similarity_ann_lsh``
    (r6 VERDICT task 7, the ``approx_distinct``/``hll_accuracy_audit``
    conversion pattern): the banded LSH runs BESIDE the exact
    brute-force top-k, the oracle independently recomputes the exact
    baseline (query count + top-1 identity anchor) and pins the
    recall verdict to 1 — so an LSH recall collapse below
    ANN_LSH_RECALL_FLOOR becomes a driver-red value mismatch, not a
    silent quality drift only tests can see."""
    return _ann_recall_audit(
        spark, sf_dir, similarity_ann_lsh(spark, sf_dir), ANN_LSH_RECALL_FLOOR
    )


@query(
    "ann_ivf_recall_audit",
    oracle=_ANN_AUDIT_ORACLE,
    tags=("similarity", "ivf", "audit", "llm-pipeline"),
)
def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed twin of the rows-only ``similarity_ann_ivf``:
    IVF (nprobe=2) beside the exact top-k, exact baseline + recall
    verdict pinned by the oracle — see ``ann_lsh_recall_audit``. The
    IVF floor is lower (fewer probed cells than LSH bands) but still
    far above a broken candidate generator's recall."""
    return _ann_recall_audit(
        spark, sf_dir, similarity_ann_ivf(spark, sf_dir), ANN_IVF_RECALL_FLOOR
    )


#: PQ floor: test-observed recall ≥ 0.6 (tests/test_similarity_pq.py);
#: 400‰ leaves margin for codebook float-order jitter while staying far
#: above a broken quantizer's recall
ANN_PQ_RECALL_FLOOR = 400


@query(
    "ann_pq_recall_audit",
    oracle=_ANN_AUDIT_ORACLE,
    tags=("similarity", "pq", "audit", "llm-pipeline"),
)
def ann_pq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-backed twin of the rows-only ``similarity_ann_pq`` —
    the third ANN face gains the same driver-checkable gate as LSH and
    IVF (see ``ann_lsh_recall_audit``): product-quantized ADC search
    beside the exact top-k, exact baseline + recall verdict pinned by
    the oracle."""
    from watermill_kinesis_spark.operators.similarity2 import (
        similarity_ann_pq,
    )

    return _ann_recall_audit(
        spark, sf_dir, similarity_ann_pq(spark, sf_dir), ANN_PQ_RECALL_FLOOR
    )


@query(
    "similarity_label_centroids",
    oracle=f"""
    WITH ex AS (
        SELECT label, generate_subscripts(embedding, 1) AS i,
               unnest(CAST(embedding AS DOUBLE[])) AS x
        FROM embeddings)
    SELECT label, COUNT(DISTINCT i) AS dim,
           CAST(COUNT(*) / COUNT(DISTINCT i) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(x AS DECIMAL(16,6))) AS DOUBLE) AS sum_all_components
    FROM ex GROUP BY label
    """,
    tags=("similarity", "agg", "llm-pipeline"),
)
def similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid statistics via posexplode — the vector-column
    aggregation pattern (centroids, IVF coarse quantizers) expressed
    relationally. Component sums go through exact decimal so the result
    is partition-order independent."""
    e = _emb(spark, sf_dir)
    ex = e.select("label", F.posexplode("emb").alias("i", "x"))
    return ex.groupBy("label").agg(
        F.countDistinct("i").alias("dim"),
        (F.count(F.lit(1)) / F.countDistinct("i")).cast("bigint").alias("n_vectors"),
        # scale 6, not 10: DuckDB's double→decimal cast rounds via a
        # double multiply, which disagrees with exact decimal rounding
        # ~2e-6/element at scale 10; at scale 6 the engines agree
        F.sum(F.col("x").cast("decimal(16,6)")).cast("double").alias(
            "sum_all_components"
        ),
    )
