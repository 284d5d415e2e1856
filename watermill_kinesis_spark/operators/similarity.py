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
- ``similarity_ann_ivf`` / ``similarity_ann_pq`` — coarse-cell and
  product-quantization ANN. PQ is the memory-bound scale path (FAISS-PQ
  style): brute force and IVF keep full vectors (dim × 8 bytes), while
  PQ compresses each vector to |subspaces| one-byte codes (64 bytes →
  8 bytes here), so the searchable index fits in a fraction of the
  memory and the scan is table lookups instead of multiplies.
  Codebooks are the "big data, small model" pattern (clustering.py):
  k·dim floats trained on a driver-side sample, shipped in kernel
  closures, never joined.

The compressed (int8, 1-bit, Matryoshka-prefix) and multi-vector faces,
hard-negative mining, rank fusion and the mutual-kNN graph build on the
same exact top-k and the same ``tables.embedding_vectors`` loader.

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
from watermill_kinesis_spark.sources.tables import embedding_vectors, load_table

TOP_K = 5
N_QUERIES = 8
#: LSH: bands × bits-per-band. A pair is a candidate if ANY band's
#: sign-bit code matches (OR-amplification) — bands trade precision for
#: recall exactly like MinHash banding.
LSH_BANDS, LSH_BITS = 16, 4
EMB_DIM = 64


def batch_topk(S, ids, k):
    """Exact batch-local top-k per query column, ordered by
    (score DESC, id ASC) — the SAME total order the global merge
    window uses. ``np.argpartition`` selects by score alone, so when
    the k-th boundary is a TIE (duplicate embeddings — guaranteed on
    a replicated corpus, common in any deduplicating pipeline), the
    batch keeps an arbitrary tied candidate and may discard exactly
    the row the global (score DESC, id ASC) ranking needs: the merged
    result is then wrong, not just reordered (seen as value drift
    in three top-k ops on a 100× replicated corpus). lexsort keys
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

    e = embedding_vectors(spark, sf_dir, distribute=True)
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
    e = band_coded(embedding_vectors(spark, sf_dir, distribute=True))
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

    e = embedding_vectors(spark, sf_dir, distribute=True)
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
    e = embedding_vectors(spark, sf_dir)
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


# ---------------------------------------------------------------------------
# product-quantization ANN

PQ_SUBSPACES = 8
PQ_SUBDIM = EMB_DIM // PQ_SUBSPACES
PQ_CODES = 16
PQ_TRAIN_ITERS = 10
#: ADC candidates fetched per query before the exact re-rank.
PQ_RERANK = TOP_K * 4
#: deterministic training-sample cap (vectors); at corpus scale the
#: sample is a hash-stratified slice, here it covers the table.
PQ_TRAIN_CAP = 4096


def train_codebooks(X):
    """Lloyd's k-means per subspace on the (normalized) sample matrix.
    Deterministic: seeded centroid init, ties broken by argmin. Returns
    codebooks of shape (PQ_SUBSPACES, PQ_CODES, PQ_SUBDIM)."""
    import numpy as np

    books = np.zeros((PQ_SUBSPACES, PQ_CODES, PQ_SUBDIM))
    for s in range(PQ_SUBSPACES):
        sub = X[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
        rng = np.random.RandomState(42 + s)
        C = sub[rng.choice(len(sub), PQ_CODES, replace=False)].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for j in range(PQ_CODES):
                m = assign == j
                if m.any():
                    C[j] = sub[m].mean(axis=0)
        books[s] = C
    return books


@query("similarity_ann_pq", tags=("similarity", "pq", "llm-pipeline"))
def similarity_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (ADC) and exact re-rank:

    1. **Train** (driver, sample): per-subspace k-means codebooks over
       L2-normalized vectors — 8 (PQ_SUBSPACES)×16 (PQ_CODES)×8 (PQ_SUBDIM)
       floats, KBs regardless of corpus size.
    2. **Encode** (distributed): one Arrow pass assigns each vector
       8 (PQ_SUBSPACES) one-byte codes — an 8× index compression here,
       64× at dim=512.
    3. **ADC search** (distributed): each query precomputes a
       8 (PQ_SUBSPACES)×16 (PQ_CODES) inner-product table; scoring a corpus
       vector is 8 (PQ_SUBSPACES) table lookups, no float multiply. Each
       Arrow batch emits only its local top-20 (PQ_RERANK) per query.
    4. **Exact re-rank**: the ≤20 (PQ_RERANK)·batches candidate rows join
       back to full vectors for true cosine; top-5 (TOP_K) wins.

    Approximate by design ⇒ rows-only; recall vs the exact
    similarity_topk is pinned in tests/test_similarity_pq.py."""
    import numpy as np
    import pandas as pd

    # fixed layout: the ADC stage emits a batch-local candidate pool
    # with no exact global merge of the full pool, so the approximate
    # output depends on the batch layout — keep it bit-stable
    e = embedding_vectors(spark, sf_dir, distribute=True, fixed=True)
    cap = PQ_TRAIN_CAP
    # Deterministic training sample: orderBy+limit compiles to
    # TakeOrderedAndProject — every partition keeps a local top-`cap`
    # and the driver merges, so there is no single-partition funnel and
    # the sample is stable across partition layouts. At corpus scale,
    # prepend a real hash-stratified gate sized so ~cap rows survive,
    # e.g. ``.where(F.pmod(F.xxhash64("vec_id"), 25_000) == 0)`` for a
    # 100M-vector corpus, then the same orderBy+limit.
    sample = e.orderBy("vec_id").limit(cap)
    rows = sample.select("vec_id", "emb").collect()
    X = np.array([r.emb for r in rows], dtype=np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    books = train_codebooks(X)
    # the query set (vec_id < N_QUERIES) is by construction inside the
    # lowest-id training sample — reuse the collected rows instead of a
    # second scan+collect of the embeddings table
    assert N_QUERIES <= cap, "query set must fit in the training sample"
    qrows = [r for r in rows if r.vec_id < N_QUERIES]

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            codes = np.zeros((len(Mn), PQ_SUBSPACES), dtype=np.int32)
            for s in range(PQ_SUBSPACES):
                sub = Mn[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
                d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "codes": list(codes)})

    coded = e.select("vec_id", "emb").mapInPandas(
        encode, "vec_id long, codes array<int>"
    )

    qrows = sorted(qrows, key=lambda r: r.vec_id)
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.emb for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # ADC tables: tables[q, s, j] = q_sub_s · codebook[s][j]
    tables = np.einsum(
        "qsd,sjd->qsj",
        Qn.reshape(len(Qn), PQ_SUBSPACES, PQ_SUBDIM),
        books,
    )

    def adc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            codes = np.stack(pdf["codes"].to_numpy())  # n × S
            # approx[n, q] = Σ_s tables[q, s, codes[n, s]]
            approx = np.zeros((len(ids), len(qids)))
            for s in range(PQ_SUBSPACES):
                approx += tables[:, s, codes[:, s]].T  # n × q
            approx[ids[:, None] == qids[None, :]] = -np.inf
            k = min(PQ_RERANK, len(ids))
            top = batch_topk(approx, ids, k)  # tie-exact (similarity.batch_topk)
            out_q = np.repeat(qids[None, :], k, axis=0).ravel()
            out_n = ids[top].ravel()
            out_s = np.take_along_axis(approx, top, axis=0).ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {"query_id": out_q[keep], "neighbor_id": out_n[keep]}
            )

    cand = coded.mapInPandas(adc, "query_id long, neighbor_id long")
    # global candidate cut happens at re-rank; dedup batch overlaps
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])

    qdf = local_relation(spark, 
        [(int(i), [float(x) for x in Qn[j]]) for j, i in enumerate(qids)],
        "query_id long, qe array<double>",
    )
    full = cand.join(e.select(F.col("vec_id").alias("neighbor_id"), "emb"), "neighbor_id")
    scored = full.join(F.broadcast(qdf), "query_id").select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qe"), F.col("emb")) / _norm(F.col("emb"))).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", F.round("score", 6).alias("score"))
    )


# ---------------------------------------------------------------------------
# hard-negative mining (contrastive-training pair generation)


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel,
                      CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS negative_id, e.label AS neg_label,
               list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[]))
                   AS score
        FROM q CROSS JOIN embeddings e
        WHERE e.label <> q.qlabel)
    SELECT query_id, negative_id, neg_label, rank FROM (
        SELECT query_id, negative_id, neg_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, negative_id) AS rank
        FROM scored)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "training", "llm-pipeline"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the most-similar corpus vectors with a DIFFERENT label — the pairs
    that actually move an embedding model (easy negatives contribute
    ~zero gradient). Same tree-top-k kernel as similarity_topk (one
    BLAS matmul per Arrow batch, batch-local top-k, tiny global merge)
    with the label-mismatch mask applied inside the kernel, so
    disqualified rows never leave the batch. Exactly oracle-checked via
    DuckDB's list_cosine_similarity."""
    import numpy as np
    import pandas as pd

    e = embedding_vectors(spark, sf_dir, distribute=True)
    qrows = sorted(
        e.where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "emb", "label")
        .collect(),
        key=lambda r: r.vec_id,
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qlabels = np.array([r.label for r in qrows], dtype=np.int64)
    Q = np.array([r.emb for r in qrows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy(dtype=np.int64)
            M = np.stack(pdf["emb"].to_numpy())
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T  # |batch| × |queries|
            S[labels[:, None] == qlabels[None, :]] = -np.inf  # same label: out
            k = min(TOP_K, len(ids))
            top = batch_topk(S, ids, k)  # tie-exact
            out_q = np.repeat(qids[None, :], k, axis=0).ravel()
            out_n = ids[top].ravel()
            out_l = labels[top].ravel()
            out_s = np.take_along_axis(S, top, axis=0).ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "query_id": out_q[keep],
                    "negative_id": out_n[keep],
                    "neg_label": out_l[keep],
                    "score": out_s[keep],
                }
            )

    scored = e.select("vec_id", "emb", "label").mapInPandas(
        kernel, "query_id long, negative_id long, neg_label long, score double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("negative_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "negative_id", "neg_label", "rank")
    )


#: Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60) and
#: the fused-list cutoff per query group
RRF_K = 60
RRF_TOP = 10


@query(
    "hybrid_rank_fusion_rrf",
    oracle=f"""
    WITH r1 AS (
        SELECT source, doc_id, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank1
        FROM documents),
    r2 AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            PARTITION BY source
            ORDER BY ((doc_id % 1000003) * {2654435761} % {2147483647}), doc_id) AS rank2
        FROM documents),
    fused AS (
        SELECT source, r1.doc_id, rank1, rank2,
               1000000 // ({RRF_K} + rank1) + 1000000 // ({RRF_K} + rank2)
                   AS rrf_micro
        FROM r1 JOIN r2 USING (doc_id)),
    topped AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY source ORDER BY rrf_micro DESC, doc_id) AS pos
        FROM fused)
    SELECT source, doc_id, CAST(rank1 AS BIGINT) AS rank1,
           CAST(rank2 AS BIGINT) AS rank2,
           CAST(rrf_micro AS BIGINT) AS rrf_micro,
           CAST(pos AS BIGINT) AS pos
    FROM topped WHERE pos <= {RRF_TOP}
    """,
    tags=("similarity", "retrieval", "ranking"),
)
def hybrid_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of two retrieval rankings — the standard
    hybrid-search combiner (lexical BM25 list ⊕ vector ANN list,
    Cormack et al. 2009): score(d) = Σ 1/(k + rankᵢ(d)), k=60, fused
    PER QUERY GROUP (source stands in for the query: every ranking
    window is partitioned, so the sort distributes across groups and
    the top-10 cut compiles to WindowGroupLimit — no global sort, no
    single-partition exchange). Two deterministic scorers (doc length
    as the 'lexical' signal, a multiplicative-hash pseudo-score as
    the 'semantic' one — its id pre-reduced mod 1000003 so the
    multiply stays inside int64 on every engine, the kfold guard) keep
    the FUSION arithmetic the thing under
    test: each reciprocal is the integer quotient 10⁶ div (k + rank),
    making fused scores and the (score desc, doc_id) cutoff
    bit-identical on both engines."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w1 = W.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    w2 = W.partitionBy("source").orderBy(
        ((F.col("doc_id") % 1000003) * 2654435761 % 2147483647), "doc_id"
    )
    r1 = d.select(
        "source", "doc_id", F.row_number().over(w1).alias("rank1")
    )
    r2 = d.select("doc_id", F.row_number().over(w2).alias("rank2"))
    fused = r1.join(r2, "doc_id").selectExpr(
        "source",
        "doc_id",
        "CAST(rank1 AS BIGINT) AS rank1",
        "CAST(rank2 AS BIGINT) AS rank2",
        f"CAST(1000000 div ({RRF_K} + rank1) "
        f"+ 1000000 div ({RRF_K} + rank2) AS BIGINT) AS rrf_micro",
    )
    wtop = W.partitionBy("source").orderBy(F.col("rrf_micro").desc(), "doc_id")
    return (
        fused.withColumn("pos", F.row_number().over(wtop).cast("bigint"))
        .where(F.col("pos") <= RRF_TOP)
    )


#: Matryoshka audit: dimensionality of the truncated prefix embedding
MRL_DIM = 16


@query(
    "embedding_matryoshka_audit",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    full_s AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[]))
                       DESC, e.vec_id) AS rank
        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
    trunc_s AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   list_cosine_similarity(q.qe[1:{MRL_DIM}],
                       CAST(e.embedding AS DOUBLE[])[1:{MRL_DIM}])
                       DESC, e.vec_id) AS rank
        FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id)
    SELECT f.query_id,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(COUNT(t.neighbor_id) * 1000 // {TOP_K} AS BIGINT)
               AS overlap_permille
    FROM (SELECT * FROM full_s WHERE rank <= {TOP_K}) f
    LEFT JOIN (SELECT * FROM trunc_s WHERE rank <= {TOP_K}) t
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
    GROUP BY f.query_id
    """,
    tags=("similarity", "embeddings", "llm-pipeline"),
)
def embedding_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval audit (Kusupati et al. 2022 /
    the MRL deployment question): if the index stores only the first
    16 of 64 dimensions (MRL_DIM/EMB_DIM) — 4× less memory/bandwidth —
    how much of each query's exact top-k survives? Both rankings run
    brute-force in ONE dual Arrow kernel (a batch is scored against
    the full and prefix query matrices simultaneously), batch-local
    top-k + a per-(variant, query) window merges as in
    ``similarity_topk``, and the overlap count per query is the
    decision metric for adopting truncated indexes. Only rank
    identities and integer overlap reach the oracle — scores stay
    engine-internal, the family's float-tie discipline."""
    import numpy as np
    import pandas as pd

    e = embedding_vectors(spark, sf_dir, distribute=True).select("vec_id", "emb")
    qrows = sorted(
        e.where(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.emb for r in qrows], dtype=np.float64)
    # zero-norm guard: NaN sorts ABOVE every finite double
    # in Spark's descending order, so an unguarded 0/0 would silently
    # promote garbage neighbors. DuckDB's list_cosine_similarity
    # defines the zero-vector case as −1.0 — mirror that exactly.
    qn_full = np.linalg.norm(Q, axis=1)
    Qn = Q / np.maximum(qn_full, 1e-300)[:, None]
    Qt = Q[:, :MRL_DIM]
    qn_trunc = np.linalg.norm(Qt, axis=1)
    Qtn = Qt / np.maximum(qn_trunc, 1e-300)[:, None]
    q_zero = {"full": qn_full == 0.0, "trunc": qn_trunc == 0.0}

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.stack(pdf["emb"].to_numpy())
            out = {"variant": [], "query_id": [], "neighbor_id": [], "score": []}
            for variant, (Mv, Qv) in (
                ("full", (M, Qn)),
                ("trunc", (M[:, :MRL_DIM], Qtn)),
            ):
                nrm = np.linalg.norm(Mv, axis=1)
                Mn = Mv / np.maximum(nrm, 1e-300)[:, None]
                S = Mn @ Qv.T
                S[nrm == 0.0, :] = -1.0  # DuckDB zero-vector convention
                S[:, q_zero[variant]] = -1.0
                S[ids[:, None] == qids[None, :]] = -np.inf
                k = min(TOP_K, len(ids))
                top = batch_topk(S, ids, k)  # tie-exact
                sc = np.take_along_axis(S, top, axis=0).ravel()
                keep = np.isfinite(sc)
                out["variant"] += [variant] * int(keep.sum())
                out["query_id"] += list(
                    np.repeat(qids[None, :], k, axis=0).ravel()[keep]
                )
                out["neighbor_id"] += list(ids[top].ravel()[keep])
                out["score"] += list(sc[keep])
            yield pd.DataFrame(out)

    scored = e.mapInPandas(
        kernel, "variant string, query_id long, neighbor_id long, score double"
    )
    w = W.partitionBy("variant", "query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    ranked = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("variant", "query_id", "neighbor_id")
    )
    full = ranked.where(F.col("variant") == "full").drop("variant")
    trunc = ranked.where(F.col("variant") == "trunc").drop("variant")
    return (
        full.join(
            trunc.withColumn("hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_ov"))
        .selectExpr(
            "query_id",
            f"CAST({TOP_K} AS BIGINT) AS k",
            "CAST(n_ov AS BIGINT) AS n_overlap",
            f"CAST((n_ov * 1000) div {TOP_K} AS BIGINT) AS overlap_permille",
        )
    )


#: int8 symmetric quantization: codes in [-127, 127], per-vector scale
INT8_QMAX = 127


@query(
    "embedding_int8_quant_audit",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings),
    s AS (
        SELECT vec_id, label, e,
               list_max(list_transform(e, x -> abs(x))) AS scale
        FROM v),
    c AS (
        SELECT vec_id, label,
               CASE WHEN scale = 0
                    THEN list_transform(e, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(e, x -> CAST(
                        CASE WHEN x >= 0
                             THEN floor(x * {INT8_QMAX}.0 / scale + 0.5)
                             ELSE -floor(-x * {INT8_QMAX}.0 / scale + 0.5)
                        END AS BIGINT))
               END AS q
        FROM s)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(list_sum(q)) AS BIGINT) AS sum_codes,
           CAST(SUM(list_sum(list_transform(q, k -> k * k))) AS BIGINT)
               AS sum_sq_codes,
           CAST(SUM(len(list_filter(q, k -> abs(k) = {INT8_QMAX})))
                AS BIGINT) AS n_saturated_codes
    FROM c
    GROUP BY label
    """,
    tags=("similarity", "embeddings", "quantization", "llm-pipeline"),
)
def embedding_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization audit — the compression
    every large-scale vector index applies before ANN serving (4×
    memory/bandwidth vs float32): ``code = round(x · 127 / max|x|)``.
    Per label the audit pins the EXACT integer code statistics (sum,
    sum of squares, saturated-code count) on both engines, so any
    divergence in the quantizer — wrong scale, asymmetric clamp,
    banker's rounding — flips the hash.

    Rounding is spelled ``floor(x + 0.5)`` mirrored across zero (the
    same half-away-from-zero primitive as ``functions.exact.lcents``)
    because numpy's ``round`` is half-to-EVEN — the one rounding mode
    the two engines would disagree on. All arithmetic is IEEE double
    with an identical expression tree, then integer sums: associative,
    partition-order-free, bit-stable.

    100 TB posture: one codegen'd projection per vector (no Python,
    no shuffle before the 10-key label aggregate); the map-side
    partial aggregate reduces each task to |labels| rows."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "label", F.col("embedding").cast("array<double>").alias("e")
    )
    scale = F.array_max(F.transform(F.col("e"), lambda x: F.abs(x)))
    qmax = F.lit(float(INT8_QMAX))

    def code(x):
        scaled = x * qmax / F.col("scale")
        return (
            F.when(x >= 0, F.floor(scaled + F.lit(0.5)))
            .otherwise(-F.floor(-scaled + F.lit(0.5)))
            .cast("bigint")
        )

    q = F.when(
        F.col("scale") == 0,
        F.transform(F.col("e"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(F.transform(F.col("e"), code))
    zero = F.lit(0).cast("bigint")
    c = e.withColumn("scale", scale).select(
        "label",
        F.aggregate(q, zero, lambda a, k: a + k).alias("row_sum"),
        F.aggregate(q, zero, lambda a, k: a + k * k).alias("row_sq"),
        F.size(F.filter(q, lambda k: F.abs(k) == INT8_QMAX))
        .cast("bigint")
        .alias("row_sat"),
    )
    return c.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("row_sum").cast("bigint").alias("sum_codes"),
        F.sum("row_sq").cast("bigint").alias("sum_sq_codes"),
        F.sum("row_sat").cast("bigint").alias("n_saturated_codes"),
    )


#: multi-vector decomposition: each 64-dim embedding is read as
#: MV_TOKENS sub-vectors of MV_SUBDIM dims — the deterministic
#: stand-in for a per-token vector column (array<array<float>>); the
#: scoring plumbing is identical either way
MV_TOKENS = 4
MV_SUBDIM = 16


def _mv_slices_sql(col: str) -> list[str]:
    """DuckDB 1-based sub-vector slices of a DOUBLE[] column."""
    return [
        f"{col}[{i * MV_SUBDIM + 1}:{(i + 1) * MV_SUBDIM}]"
        for i in range(MV_TOKENS)
    ]


@query(
    "multivector_maxsim_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               {" + ".join(
                   "greatest("
                   + ", ".join(
                       f"list_cosine_similarity({qs}, CAST(e.embedding AS DOUBLE[])[{j * MV_SUBDIM + 1}:{(j + 1) * MV_SUBDIM}])"
                       for j in range(MV_TOKENS)
                   )
                   + ")"
                   for qs in _mv_slices_sql("q.qe")
               )} AS score
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "retrieval", "colbert", "llm-pipeline"),
)
def multivector_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia
    2020): query and document are BAGS of vectors, and the score is
    MaxSim — for each query sub-vector take the best-matching document
    sub-vector's cosine, then sum over query sub-vectors. Here the
    64-dim embedding is deterministically read as 4×16-dim sub-vectors
    (the storage stand-in for a real per-token vector column; the
    plan shape is identical).

    Same engine shape as ``similarity_topk``: the query bag broadcasts
    in the kernel closure, each Arrow batch computes the full
    (batch × queries × q_tokens × d_tokens) interaction with one
    einsum, reduces max-then-sum locally, and emits only its
    batch-local top-k — rows moved stay O(k · batches) no matter the
    corpus size. Ranks only cross the oracle hash (float-tie
    discipline); zero-norm sub-vectors score −1.0, DuckDB's
    ``list_cosine_similarity`` convention."""
    import numpy as np
    import pandas as pd

    e = embedding_vectors(spark, sf_dir, distribute=True).select("vec_id", "emb")
    qrows = sorted(
        e.where(F.col("vec_id") < N_QUERIES).collect(), key=lambda r: r.vec_id
    )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.emb for r in qrows], dtype=np.float64).reshape(
        len(qrows), MV_TOKENS, MV_SUBDIM
    )
    qn = np.linalg.norm(Q, axis=2)
    Qn = Q / np.maximum(qn, 1e-300)[:, :, None]
    q_zero = qn == 0.0  # (nq, MV_TOKENS)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            M = np.stack(pdf["emb"].to_numpy()).reshape(
                len(pdf), MV_TOKENS, MV_SUBDIM
            )
            mn = np.linalg.norm(M, axis=2)
            Mn = M / np.maximum(mn, 1e-300)[:, :, None]
            # (batch, d_tok, nq, q_tok) pairwise sub-vector cosines
            S = np.einsum("bds,qts->bdqt", Mn, Qn)
            S[mn == 0.0, :, :] = -1.0  # zero doc sub-vector
            S = np.where(q_zero[None, None, :, :], -1.0, S)
            # MaxSim: max over document tokens, sum over query tokens
            score = S.max(axis=1).sum(axis=2)  # (batch, nq)
            score[ids[:, None] == qids[None, :]] = -np.inf
            k = min(TOP_K, len(ids))
            top = batch_topk(score, ids, k)  # tie-exact
            out_s = np.take_along_axis(score, top, axis=0).ravel()
            keep = np.isfinite(out_s)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids[None, :], k, axis=0).ravel()[
                        keep
                    ],
                    "neighbor_id": ids[top].ravel()[keep],
                    "score": out_s[keep],
                }
            )

    scored = e.mapInPandas(
        kernel, "query_id long, neighbor_id long, score double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


#: neighbors per vector for the mutual-kNN graph
KNN_MUTUAL_K = 3


@query(
    "knn_mutual_label_blocked",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings),
    pairs AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_cosine_similarity(a.emb, b.emb) AS cos
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
    topk AS (
        SELECT src, dst,
               ROW_NUMBER() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rk
        FROM pairs),
    sel AS (SELECT src, dst FROM topk WHERE rk <= {KNN_MUTUAL_K})
    SELECT s.src AS vec_id,
           CAST(COUNT(m.dst) AS BIGINT) AS n_mutual
    FROM sel s LEFT JOIN sel m ON s.src = m.dst AND s.dst = m.src
    GROUP BY 1
    """,
    tags=("similarity", "embeddings", "graph", "llm-pipeline"),
)
def knn_mutual_label_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph over label blocks — the symmetrized
    nearest-neighbor graph that semantic-dedup and graph-based corpus
    pruning build before clustering (a mutual edge — each endpoint in
    the other's top-k — is the standard high-precision edge filter).
    Blocking by label bounds pair generation to Σ|block|², the classic
    blocked-similarity shape. Scale contract, stated honestly: this is
    the EXACT-graph face for bounded blocks (eval sets, recall-audit
    ground truth) — ``groupBy(label).applyInPandas`` runs one task per
    block, so parallelism is min(cores, |blocks|) and per-task memory
    is O(chunk·|block|) (the kernel scores in 1024-row chunks, never a
    full |block|² matrix). At 100 TB the block key becomes the LSH
    bucket or IVF cell (``similarity_ann_*``) whose block count vastly
    exceeds the cluster's cores — the production path; routing a
    corpus-scale relation through THIS face with a handful of labels
    would serialize on the block count by construction. The mutuality
    check is a self-join of the k·n edge list on swapped endpoints;
    per-source top-k falls out of a stable argsort so ties break
    toward the smaller dst, matching the oracle's (cos DESC, dst)
    rank exactly. Only
    (vec_id, mutual-degree) integers cross the compare — cosine scores
    stay engine-internal, the similarity family's float discipline.

    Cross-engine float note (r8 review): the two engines compute the
    cosine through different code (numpy/BLAS matmul here,
    ``list_cosine_similarity`` in the oracle), so rank parity relies
    on no two candidates' cosines being within the engines' few-ulp
    computation discrepancy — the same envelope
    ``embedding_matryoshka_audit`` and ``similarity_topk`` have run
    green under since r2 (numpy vs DuckDB), with exact ties broken by
    dst on both sides. Quantizing scores in-plan would WIDEN the risk,
    not shrink it: a grid compare diverges when any cosine falls
    within δ of a cell boundary (~δ/cell per value), which is far more
    likely over diffuse scores than two cosines landing within δ of
    each other. The brute-force pytest pin covers the numpy face."""
    import numpy as np
    import pandas as pd

    # NULL labels form no block: the oracle's equi-join drops them and
    # a groupBy would otherwise invent a NULL-key block
    e = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("label").isNotNull())
        .select(
            "vec_id",
            "label",
            F.col("embedding").cast("array<double>").alias("emb"),
        )
    )

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # one label block per call; scoring runs in row CHUNKS so task
        # memory is O(chunk·|block|), never a full |block|² matrix
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf["emb"].to_numpy())[order]
        nrm = np.linalg.norm(M, axis=1)
        Mn = M / np.maximum(nrm, 1e-300)[:, None]
        zero = nrm == 0.0
        k = min(KNN_MUTUAL_K, len(ids) - 1)
        if k <= 0:
            return pd.DataFrame({"src": ids[:0], "dst": ids[:0]})
        srcs, dsts = [], []
        chunk = 1024
        for lo in range(0, len(ids), chunk):
            S = Mn[lo : lo + chunk] @ Mn.T
            S[zero[lo : lo + chunk], :] = -1.0
            S[:, zero] = -1.0  # DuckDB zero-vector convention
            rows = np.arange(lo, min(lo + chunk, len(ids)))
            S[rows - lo, rows] = -np.inf  # exclude self
            # top-k by (cos desc, dst asc): ids ascend along axis 1, so
            # a STABLE descending sort breaks ties toward smaller dst
            top = np.argsort(-S, axis=1, kind="stable")[:, :k]
            keep = np.isfinite(np.take_along_axis(S, top, axis=1)).ravel()
            srcs.append(np.repeat(ids[rows], k)[keep])
            dsts.append(ids[top].ravel()[keep])
        return pd.DataFrame(
            {"src": np.concatenate(srcs), "dst": np.concatenate(dsts)}
        )

    sel = e.groupBy("label").applyInPandas(block_topk, "src long, dst long")
    rev = sel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    mutual = sel.join(rev, ["src", "dst"], "left_semi")
    return (
        sel.select("src")
        .distinct()
        .join(
            mutual.groupBy("src").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_mutual")
            ),
            "src",
            "left",
        )
        .select(
            F.col("src").alias("vec_id"),
            F.coalesce("n_mutual", F.lit(0)).cast("bigint").alias("n_mutual"),
        )
    )


@query(
    "ann_model_save_load_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           1 AS model_roundtrip_identical,
           1 AS codes_identical,
           1 AS cells_identical
    FROM embeddings
    """,
    tags=("similarity", "pq", "ivf", "audit", "llm-pipeline"),
)
def ann_model_save_load_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN model persistence round-trip (VERDICT r8 task 5):
    production pipelines train IVF/PQ ONCE and apply the frozen model
    across the corpus (often in a different job, days later), so the
    save→load path must be bit-exact — a model that drifts through
    serialization silently rebuckets the index. The audit trains both
    model kinds exactly as their operators do (PQ codebooks on the
    deterministic sample, ``train_codebooks``; IVF coarse centroids as
    per-label means), persists them to parquet (doubles survive
    parquet bit-exactly), reloads them in a FRESH read plan, and pins:

    - ``model_roundtrip_identical``: reloaded arrays are bitwise equal
      (``np.array_equal``) to the in-session model;
    - ``codes_identical`` / ``cells_identical``: ONE distributed Arrow
      pass encodes every corpus vector under BOTH models (8 PQ
      subspace argmins + the coarse-cell argmax) and counts
      disagreements — zero is the only green.

    The oracle pins the corpus census and all three verdicts to 1.
    Scale shape: models are KB-sized driver artifacts (the
    clustering.py "big data, small model" contract); the double-encode
    is a single mapInPandas scan emitting 3 longs per Arrow batch, and
    the parquet model files are the exact artifact a 1000-executor
    apply job would broadcast-load."""
    import shutil
    import tempfile

    import numpy as np
    import pandas as pd

    e = embedding_vectors(spark, sf_dir, distribute=True)
    sample = e.orderBy("vec_id").limit(PQ_TRAIN_CAP)
    X = np.array(
        [r.emb for r in sample.select("emb").collect()], dtype=np.float64
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    books = train_codebooks(Xn)
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

    tmp = tempfile.mkdtemp(prefix="wk_ann_model_")
    try:
        # single-slice parallelize: the models are KB-sized driver
        # artifacts — default createDataFrame parallelism wrote them as
        # 32 one-row parquet files through 32 Python-RDD tasks
        # (profiled ~24 s of executor run time for ~1 KB of data), and
        # a coalesce(1) is WORSE (the one coalesced task computes all
        # 32 parent slices, paying 32 sequential Python-worker
        # handshakes — profiled 4.5 s blocked per write). One slice =
        # one task, one handshake, one file — also the artifact shape
        # an apply job broadcast-loads (guide §6: output file sizing).
        local_relation(
            spark,
            [
                (s, j, [float(x) for x in books[s][j]])
                for s in range(PQ_SUBSPACES)
                for j in range(PQ_CODES)
            ],
            "subspace int, code int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{tmp}/pq_codebooks")
        local_relation(
            spark,
            [
                (int(lab), [float(x) for x in Cn[lab_idx[lab]]])
                for lab in labels
            ],
            "label int, centroid array<double>",
        ).write.mode("overwrite").parquet(f"{tmp}/ivf_centroids")

        books2 = np.zeros_like(books)
        for r in spark.read.parquet(f"{tmp}/pq_codebooks").collect():
            books2[r.subspace][r.code] = r.centroid
        Cn2 = np.zeros_like(Cn)
        for r in spark.read.parquet(f"{tmp}/ivf_centroids").collect():
            Cn2[lab_idx[r.label]] = r.centroid
        model_ok = int(
            np.array_equal(books, books2) and np.array_equal(Cn, Cn2)
        )

        def probe(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack(pdf["emb"].to_numpy())
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                same_codes = np.ones(len(Mn), dtype=bool)
                for s in range(PQ_SUBSPACES):
                    sub = Mn[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
                    d1 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(
                        axis=2
                    )
                    d2 = ((sub[:, None, :] - books2[s][None, :, :]) ** 2).sum(
                        axis=2
                    )
                    same_codes &= d1.argmin(axis=1) == d2.argmin(axis=1)
                cells1 = (Mn @ Cn.T).argmax(axis=1)
                cells2 = (Mn @ Cn2.T).argmax(axis=1)
                yield pd.DataFrame(
                    {
                        "n": [len(Mn)],
                        "bad_codes": [int((~same_codes).sum())],
                        "bad_cells": [int((cells1 != cells2).sum())],
                    }
                )

        agg = (
            e.select("emb")
            .mapInPandas(probe, "n long, bad_codes long, bad_cells long")
            .agg(
                F.sum("n").alias("n"),
                F.sum("bad_codes").alias("bc"),
                F.sum("bad_cells").alias("bl"),
            )
            .collect()[0]
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return local_relation(spark, 
        [(int(agg.n), model_ok, int(agg.bc == 0), int(agg.bl == 0))],
        "n_vectors bigint, model_roundtrip_identical int, "
        "codes_identical int, cells_identical int",
    )


# ---------------------------------------------------------------------------
# 1-bit (binary) quantization + Hamming retrieval


#: the sign-bit packing expression: 64 dims → ONE bigint, built with
#: pure bit ops (shiftleft/OR never trips ANSI arithmetic — the sign
#: bit at i=63 is an OR'd bit pattern, not an overflowing product)
_SIGN_PACK = (
    "aggregate(sequence(0, 63), CAST(0 AS BIGINT),"
    " (acc, i) -> acc | (CASE WHEN emb[i] > 0D"
    "                         THEN shiftleft(CAST(1 AS BIGINT), i)"
    "                         ELSE CAST(0 AS BIGINT) END))"
)


@query(
    "binary_quant_hamming_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               len(list_filter(
                   list_zip(q.qe, CAST(e.embedding AS DOUBLE[])),
                   s -> (s[1] > 0) <> (s[2] > 0))) AS hamming
        FROM q CROSS JOIN embeddings e
        WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id,
           CAST(hamming AS BIGINT) AS hamming,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY hamming, neighbor_id) AS rank
        FROM scored)
    WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "quantization", "llm-pipeline"),
)
def binary_quant_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit (sign) embedding quantization with Hamming-distance
    retrieval — the most aggressive quantization tier in production
    vector search (64 dims × 4 bytes → ONE int64 per vector, 32×
    smaller than float32 and 8× smaller than the int8 face audited by
    ``embedding_int8_quant_audit``), scored entirely JVM-side:
    distance is ``bit_count(code_a ^ code_b)``, one xor + popcount
    per comparison, no Python anywhere.

    The top-k uses the small-distance-domain trick instead of a global
    rank window: a 64-bit code admits only 65 Hamming values,
    so pass 1 aggregates (query, hamming) → count — map-side
    combinable to ≤ 65·|queries| rows per task, NO corpus-scale
    shuffle — and the per-query cutoff h* (the smallest distance
    whose cumulative count reaches k) comes from a window over that
    65-row relation. Pass 2 re-derives codes in projection and keeps
    only rows with hamming ≤ h*: the only rows that ever shuffle are
    the ≤ k + ties-at-h* candidates, on which an exact
    (hamming, neighbor_id) row_number reproduces the oracle's global
    ranking bit-for-bit (every row below h* is included, so the
    prefix is identical). Degenerate corpora where thousands of
    vectors share the k-th distance inflate the tie set — the
    candidate filter is still distance-exact, never wrong, just less
    selective. Corpus smaller than k pins h* = 64 (keep everything)
    via the left-join coalesce.

    Both passes are projection + aggregate over one scan each; at
    100 TB the (vec_id, code) relation is 16 B/row and would be
    cached/materialized once, but even uncached this plan moves only
    candidate rows. Sign convention ``x > 0`` is shared verbatim with
    the oracle (float→double cast preserves sign; exact zeros land in
    the 0-bit on both engines)."""
    e = embedding_vectors(spark, sf_dir).select(
        "vec_id", F.expr(_SIGN_PACK).alias("code")
    )
    q = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
        )
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.bit_count(F.col("code").bitwiseXOR(F.col("qcode"))).alias(
                "hamming"
            ),
        )
    )
    counts = scored.groupBy("query_id", "hamming").agg(
        F.count(F.lit(1)).alias("c")
    )
    cw = (
        W.partitionBy("query_id")
        .orderBy("hamming")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    thr = (
        counts.withColumn("cum", F.sum("c").over(cw))
        .where(F.col("cum") >= TOP_K)
        .groupBy("query_id")
        .agg(F.min("hamming").alias("hmax"))
    )
    cand = scored.join(F.broadcast(thr), "query_id", "left").where(
        F.col("hamming") <= F.coalesce(F.col("hmax"), F.lit(64))
    )
    w = W.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("hamming").cast("bigint").alias("hamming"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )
