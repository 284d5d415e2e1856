"""Iterative embedding-space algorithms: k-means clustering and PCA
projection — the "big data, small model" class (model state is KBs and
lives on the driver; every data pass is a distributed scan).

These are the driver contract's genuinely-non-SQL-expressible
operators (iterative algorithms): registered rows-only, with invariant
tests in tests/test_clustering.py standing in for the oracle
(assignment optimality, monotone inertia, component orthogonality,
variance ordering).

Scale posture shared by both: per-iteration state is O(k·dim) or
O(dim²) — broadcast in the kernel closure, never joined; each pass over
the data is one Arrow-vectorized scan with map-side partial reduction
to ≤ k (or dim²) rows. No row ever shuffles; at 100 TB the cost is
iterations × one-scan, the textbook distributed formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from watermill_kinesis_spark.functions.localrel import local_relation
from watermill_kinesis_spark.functions.scope import Scope
from watermill_kinesis_spark.registry import query
from watermill_kinesis_spark.sources.tables import embedding_vectors

KMEANS_K = 8
KMEANS_ITERS = 5
PCA_COMPONENTS = 2


def _assign_kernel(C):
    """Returns a mapInPandas kernel assigning each vector to its
    nearest centroid in C (k × dim, captured in the closure) and
    emitting per-row (vec_id, cluster, emb) for downstream reduction.
    Distance via the ||x-c||² = ||x||² - 2x·c + ||c||² expansion — one
    BLAS matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    c2 = (C * C).sum(axis=1)  # k

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())  # n × dim
            d = c2[None, :] - 2.0 * (M @ C.T)  # n × k (|x|² const per row)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": d.argmin(axis=1).astype("int32"),
                    "emb": pdf["emb"],
                }
            )

    return kernel


def _partial_sums_kernel(C):
    """Per-PARTITION assign-and-reduce: each Python worker emits at
    most k rows (cluster, count, sum-vector) for its whole partition —
    the map-side combine done inside the kernel, so no per-row data
    ever crosses Arrow back to the JVM during an iteration."""
    import numpy as np
    import pandas as pd

    k, dim = C.shape
    c2 = (C * C).sum(axis=1)

    def kernel(batches):
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            a = (c2[None, :] - 2.0 * (M @ C.T)).argmin(axis=1)
            counts += np.bincount(a, minlength=k)
            for j in np.unique(a):
                sums[j] += M[a == j].sum(axis=0)
        if counts.sum():
            yield pd.DataFrame(
                {"cluster": np.arange(k), "n": counts, "s": list(sums)}
            )

    return kernel


def kmeans_fit(spark: SparkSession, sf_dir: str, k: int = KMEANS_K,
               iters: int = KMEANS_ITERS):
    """Lloyd's algorithm. Init is deterministic (the k lowest vec_ids —
    k-means|| would replace this at scale without changing the loop).
    Each iteration: one distributed assign+reduce pass over the
    CHECKPOINTED post-shuffle rows; the kernel reduces to ≤ k
    rows per partition in-process, so the per-iteration driver collect
    is ≤ k × partitions tiny rows and the k × dim model update is a
    numpy reduce. Returns (centroids ndarray, assigned DataFrame)."""
    import numpy as np

    # the loops scan the SAME rows 6+ times; without materializing them
    # every pass re-reads parquet AND re-runs the repartition shuffle.
    # The returned assignment reads them: the result's own checkpoint.
    e = (
        embedding_vectors(spark, sf_dir, distribute=True)
        .select("vec_id", "emb")
        .localCheckpoint()
    )
    C = np.stack(
        [
            r["emb"]
            for r in e.where(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]
    )
    dim = C.shape[1]
    for _ in range(iters):
        parts = e.mapInPandas(
            _partial_sums_kernel(C), "cluster int, n long, s array<double>"
        ).collect()
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim))
        for r in parts:
            counts[r["cluster"]] += r["n"]
            sums[r["cluster"]] += np.asarray(r["s"])
        for j in range(k):  # empty clusters keep their previous centroid
            if counts[j]:
                C[j] = sums[j] / counts[j]
    # final assignment against the FINAL centroids (the loop's last
    # update postdates the last distributed pass)
    assigned = e.mapInPandas(
        _assign_kernel(C), "vec_id long, cluster int, emb array<double>"
    )
    return C, assigned


@query("cluster_kmeans_embeddings", tags=("clustering", "llm-pipeline"))
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile of the embedding corpus: size and
    within-cluster mean cosine-to-centroid per cluster (the semantic
    grouping step of centroid-based dedup / diversity sampling /
    DoReMi-style domain discovery). Rows-only: an iterative Lloyd's
    fixpoint is not SQL-expressible; the invariants are pinned in
    tests/test_clustering.py."""
    import numpy as np
    import pandas as pd

    C, assigned = kmeans_fit(spark, sf_dir)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def cos_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            cl = pdf["cluster"].to_numpy()
            yield pd.DataFrame(
                {
                    "cluster": cl,
                    "cos": np.einsum("ij,ij->i", Mn, Cn[cl]),
                }
            )

    return (
        assigned.mapInPandas(cos_kernel, "cluster int, cos double")
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("cos").alias("mean_cos_to_centroid"),
        )
    )


def pca_fit(spark: SparkSession, sf_dir: str):
    """One-distributed-pass PCA moment fit shared by the projection
    entry and its audit twin: per-batch outer products, map-side
    summed, dim² driver eigendecomposition. Returns
    ``(e, mu, comps, vals)`` — the embedding DataFrame, the mean
    vector, the sign-fixed top-k components (k × dim) and their
    eigenvalues (descending)."""
    import numpy as np
    import pandas as pd

    e = embedding_vectors(spark, sf_dir, distribute=True).select("vec_id", "emb")
    dim_row = e.select(F.size("emb").alias("d")).first()
    dim = dim_row["d"]

    def moments_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [len(M)],
                    "s": [M.sum(axis=0).tolist()],
                    "ss": [(M.T @ M).ravel().tolist()],
                }
            )

    parts = e.mapInPandas(
        moments_kernel, "n long, s array<double>, ss array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([p["s"] for p in parts], axis=0)
    ss = np.sum([p["ss"] for p in parts], axis=0).reshape(dim, dim)
    mu = s / n
    cov = ss / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    comps = vecs[:, ::-1][:, :PCA_COMPONENTS].T  # top-k × dim
    for i in range(len(comps)):  # fix sign: dominant coordinate positive
        j = np.argmax(np.abs(comps[i]))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    top_vals = vals[::-1][:PCA_COMPONENTS].copy()
    return e, mu, comps, top_vals


@query("embedding_pca_project", tags=("clustering", "llm-pipeline"))
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection to the top components: the mean vector and dim²
    covariance accumulate in ONE distributed pass (per-batch outer
    products, map-side summed), the eigendecomposition runs on the
    driver (64×64 — microseconds), and the projection is a second
    scan. The whitening/visualization/IVF-coarse-quantizer primitive;
    Rows-only: eigenvectors are sign/rotation-ambiguous across
    library versions, so tests pin the rotation-invariant properties
    (variance ordering, orthonormality, reconstruction) instead;
    at 100 TB both passes stream, and nothing larger than dim² ever
    leaves an executor. Sign convention: each component's
    largest-magnitude coordinate is made positive (eigenvector sign is
    otherwise arbitrary)."""
    import numpy as np
    import pandas as pd

    e, mu, comps, _ = pca_fit(spark, sf_dir)

    def project_kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy()) - mu
            P = M @ comps.T
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for i in range(P.shape[1]):
                out[f"pc{i + 1}"] = P[:, i]
            yield pd.DataFrame(out)

    schema = "vec_id long, " + ", ".join(
        f"pc{i + 1} double" for i in range(PCA_COMPONENTS)
    )
    return e.mapInPandas(project_kernel, schema)


#: SemDeDup cosine threshold: within-cluster pairs at or above it are
#: duplicates; one representative survives
SEMDEDUP_TAU = 0.95


@query("semdedup_centroid_prune", tags=("dedup", "clustering", "llm-pipeline"))
def semdedup_centroid_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): k-means the embeddings, then WITHIN each cluster
    drop near-duplicates (cosine ≥ τ) keeping one representative per
    duplicate group — the scalable shape, because the O(m²) cosine
    work happens per cluster (m ≈ N/k rows, sized to fit a task), and
    clusters process in parallel; no cross-cluster pairs are ever
    formed. Representative choice is the deterministic greedy leader
    scan in ascending vec_id. Emits per-cluster keep/drop counts.
    Rows-only: the greedy leader selection is sequential by nature;
    its invariants (kept vectors are pairwise < τ; every dropped
    vector has an earlier kept neighbor ≥ τ) are asserted exactly in
    tests/test_clustering.py. The greedy scan itself is the single
    canonical :func:`semdedup_keep_ids` (shared with the tests and the
    audit twin — one copy, nothing to drift)."""
    import pandas as pd

    _, assigned = kmeans_fit(spark, sf_dir)

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        n_kept = len(semdedup_keep_ids(pdf))
        return pd.DataFrame(
            {
                "cluster": pdf["cluster"].iloc[:1],
                "n_vectors": [len(pdf)],
                "n_kept": [n_kept],
                "n_dropped": [len(pdf) - n_kept],
            }
        )

    return (
        assigned.groupBy("cluster")
        .applyInPandas(
            prune, "cluster int, n_vectors long, n_kept long, n_dropped long"
        )
        .orderBy("cluster")
    )


def semdedup_keep_ids(assigned_pdf, tau: float = SEMDEDUP_TAU):
    """Reference-testable core: greedy leader scan over one cluster's
    (vec_id, emb) rows, ascending vec_id; returns the kept vec_ids."""
    import numpy as np

    pdf = assigned_pdf.sort_values("vec_id").reset_index(drop=True)
    M = np.stack(pdf["emb"].to_numpy())
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    kept_rows: list[int] = []
    for i in range(len(pdf)):
        if kept_rows and float((Mn[kept_rows] @ Mn[i]).max()) >= tau:
            continue
        kept_rows.append(i)
    return pdf["vec_id"].iloc[kept_rows].tolist()


#: diverse-subset (coreset) selection size for the k-center audit
KCENTER_K = 8


def kcenter_greedy_fit(spark: SparkSession, sf_dir: str, k: int = KCENTER_K):
    """Greedy farthest-point (Gonzalez) k-center selection — the
    classic diverse-subset / coreset picker for labeling budgets and
    active learning. Deterministic: starts from the minimum vec_id and
    breaks distance ties toward the smaller id.

    Distributed shape: k bounded passes, each one Arrow-vectorized
    scan computing every point's min distance to the CURRENT center
    matrix (broadcast in the kernel closure — never joined: a
    per-iteration join would accumulate k corpus shuffles and an
    unbounded plan lineage), reduced by TakeOrderedAndProject to one
    (farthest point) row — no sort, no shuffle, and driver state is
    the k × dim center matrix (KBs). Total work k passes × k·dim
    flops/row, the textbook distributed Gonzalez. Returns
    (center_ids, centers ndarray, coverage_radius)."""
    import numpy as np
    import pandas as pd

    def mind_df(C_list, with_emb=True):
        C = np.asarray(C_list, dtype=np.float64)  # (c, dim)

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                M = np.stack(pdf["emb"].to_numpy())  # (b, dim)
                d = np.sqrt(
                    np.maximum(
                        (M * M).sum(1)[:, None]
                        - 2.0 * (M @ C.T)
                        + (C * C).sum(1)[None, :],
                        0.0,
                    )
                ).min(axis=1)
                out = {"vec_id": pdf["vec_id"], "mind": d}
                if with_emb:
                    # emb rides along so the farthest row carries its
                    # own vector — no second corpus scan to re-fetch it
                    out["emb"] = pdf["emb"]
                yield pd.DataFrame(out)

        schema = "vec_id long, mind double"
        if with_emb:
            schema += ", emb array<double>"
        return e.mapInPandas(kernel, schema)

    with Scope(spark) as scope:
        e = scope.checkpointed(
            embedding_vectors(spark, sf_dir, distribute=True).select("vec_id", "emb")
        )
        first = e.orderBy("vec_id").limit(1).collect()[0]
        center_ids = [first.vec_id]
        centers = [list(first.emb)]
        for _ in range(1, k):
            # exclude already-selected ids (tiny isin, k ≤ KCENTER_K):
            # on a duplicate-heavy corpus every remaining mind can be 0,
            # and without the exclusion the (mind DESC, vec_id ASC) pick
            # re-selects center 0 forever — duplicate center ids, breaking
            # the audit's distinctness guarantee
            far_rows = (
                mind_df(centers)
                .where(~F.col("vec_id").isin(center_ids))
                .orderBy(F.desc("mind"), F.asc("vec_id"))
                .limit(1)
                .collect()
            )
            if not far_rows:  # corpus smaller than k
                break
            far = far_rows[0]
            center_ids.append(far.vec_id)
            centers.append(list(far.emb))
        # the radius pass consumes only max(mind) — skip the full-corpus
        # emb column transfer the selection passes need
        radius = (
            mind_df(centers, with_emb=False)
            .agg(F.max("mind").alias("r"))
            .collect()[0]
            .r
        )
    return center_ids, np.asarray(centers, dtype=np.float64), float(radius)


@query(
    "kcenter_diversity_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST({KCENTER_K} AS BIGINT) AS k_selected,
           1 AS all_centers_distinct,
           1 AS separation_ge_radius
    FROM embeddings
    """,
    tags=("clustering", "sampling", "coreset", "audit", "llm-pipeline"),
)
def kcenter_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit face of ``kcenter_greedy_fit`` in the sketch-audit style
    (``hll_accuracy_audit``): run the greedy selection, then pin the
    Gonzalez guarantee the selection must satisfy — the minimum
    pairwise separation among selected centers is ≥ the final
    coverage radius (every center was, when chosen, the FARTHEST
    point from all previous ones, so separation can only exceed the
    radius; a broken update rule or distance kernel breaks this
    instantly). The oracle pins the exact corpus count, k, and both
    verdicts; distances stay engine-internal. The k selected ids are
    exposed via ``kcenter_greedy_fit`` for callers (labeling budgets,
    eval-set seeding)."""
    import numpy as np

    ids, C, radius = kcenter_greedy_fit(spark, sf_dir)
    pair = np.linalg.norm(C[:, None, :] - C[None, :, :], axis=2)
    np.fill_diagonal(pair, np.inf)
    separation = float(pair.min())
    n = embedding_vectors(spark, sf_dir).count()
    return local_relation(spark, 
        [
            (
                n,
                len(ids),
                int(len(set(ids)) == len(ids)),
                # 1e-9 relative slack: the kernel computes distances
                # via the expanded-BLAS form, the driver via norm(a-b);
                # the invariant is mathematically >= with margin, the
                # slack only absorbs last-ulp formula disagreement
                int(separation >= radius * (1.0 - 1e-9)),
            )
        ],
        "n_points bigint, k_selected bigint, all_centers_distinct int,"
        " separation_ge_radius int",
    )


@query(
    "kmeans_assignment_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST({KMEANS_K} AS BIGINT) AS k,
           1 AS assignment_optimal,
           1 AS partition_complete
    FROM embeddings
    """,
    tags=("clustering", "audit", "llm-pipeline"),
)
def kmeans_assignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only
    ``cluster_kmeans_embeddings`` (the ``hll_accuracy_audit`` /
    ``kcenter_diversity_audit`` pattern): after the Lloyd fit, one
    distributed pass verifies the defining property of a k-means
    assignment — EVERY point's assigned centroid is its true argmin
    over all k centroids (checked in the same Arrow kernel arithmetic,
    distance to assigned ≤ distance to every other centroid) — and
    that the assignment partitions the corpus (every point assigned
    exactly once, cluster ids in [0, k)). The oracle pins the exact
    corpus count, k, and both verdicts; distances and the centroids
    themselves stay engine-internal. One extra broadcast-model scan on
    top of the fit — the audit adds no shuffle."""
    import numpy as np
    import pandas as pd

    C, assigned = kmeans_fit(spark, sf_dir)
    Cb = np.asarray(C, dtype=np.float64)

    def verify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf["emb"].to_numpy())
            a = pdf["cluster"].to_numpy(dtype=np.int64)
            d2 = (
                (M * M).sum(1)[:, None]
                - 2.0 * (M @ Cb.T)
                + (Cb * Cb).sum(1)[None, :]
            )
            # optimal iff assigned distance equals the row minimum
            # (same float arithmetic as the assign kernel, so exact)
            ok = d2[np.arange(len(a)), a] <= d2.min(axis=1) + 1e-12
            in_range = (a >= 0) & (a < Cb.shape[0])
            yield pd.DataFrame(
                {
                    "n": [len(a)],
                    "n_opt": [int(ok.sum())],
                    "n_in_range": [int(in_range.sum())],
                }
            )

    agg = (
        assigned.mapInPandas(verify, "n long, n_opt long, n_in_range long")
        .agg(
            F.sum("n").cast("bigint").alias("n_points"),
            F.sum("n_opt").cast("bigint").alias("n_opt"),
            F.sum("n_in_range").cast("bigint").alias("n_in_range"),
        )
    )
    return agg.select(
        "n_points",
        F.lit(KMEANS_K).cast("bigint").alias("k"),
        (F.col("n_opt") == F.col("n_points")).cast("int").alias(
            "assignment_optimal"
        ),
        (F.col("n_in_range") == F.col("n_points")).cast("int").alias(
            "partition_complete"
        ),
    )


@query(
    "pca_projection_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST({PCA_COMPONENTS} AS INT) AS k,
           1 AS orthonormal,
           1 AS variance_descending,
           1 AS means_centered,
           1 AS variance_matches_eigen
    FROM embeddings
    """,
    tags=("clustering", "audit", "llm-pipeline"),
)
def pca_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only
    ``embedding_pca_project``: verifies the rotation-INVARIANT
    properties the sign-ambiguous eigenvectors can't pin directly.
    Driver-side (dim² model): the component Gram matrix is the
    identity (orthonormal) and the captured eigenvalues descend.
    Distributed (one extra scan, scalar aggregate): the projected
    corpus has per-component mean ≈ 0 (projection of centered data)
    and per-component VARIANCE equal to its eigenvalue — the defining
    property of PCA (component variance IS the eigenvalue), checked
    with the same moment arithmetic as the fit. The oracle pins the
    exact corpus count, k, and all four verdicts; the components and
    spectra stay engine-internal."""
    import numpy as np
    import pandas as pd

    e, mu, comps, vals = pca_fit(spark, sf_dir)
    gram = comps @ comps.T
    orthonormal = bool(
        np.abs(gram - np.eye(len(comps))).max() < 1e-9
    )
    descending = bool(
        np.all(np.diff(vals) <= 1e-12) and np.all(vals >= -1e-12)
    )

    def project_moments(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = (np.stack(pdf["emb"].to_numpy()) - mu) @ comps.T
            yield pd.DataFrame(
                {
                    "n": [len(P)],
                    "s": [P.sum(axis=0).tolist()],
                    "ss": [(P * P).sum(axis=0).tolist()],
                }
            )

    k = len(comps)
    agg = (
        e.mapInPandas(
            project_moments, "n long, s array<double>, ss array<double>"
        )
        .agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            *[
                F.sum(F.element_at("s", i + 1)).alias(f"s{i}")
                for i in range(k)
            ],
            *[
                F.sum(F.element_at("ss", i + 1)).alias(f"ss{i}")
                for i in range(k)
            ],
        )
    )
    # per-component mean and variance verdicts, all in one scalar row;
    # tolerances are absolute-vs-scale (variance compares relative to
    # max(1, eigenvalue) so tiny spectra don't inflate the bound)
    mean_ok = F.lit(True)
    var_ok = F.lit(True)
    for i in range(k):
        m = F.col(f"s{i}") / F.col("n_rows")
        v = F.col(f"ss{i}") / F.col("n_rows") - m * m
        mean_ok = mean_ok & (F.abs(m) < 1e-9)
        scale = max(1.0, float(vals[i]))
        var_ok = var_ok & (F.abs(v - F.lit(float(vals[i]))) < 1e-8 * scale)
    return agg.select(
        "n_rows",
        F.lit(PCA_COMPONENTS).cast("int").alias("k"),
        F.lit(orthonormal).cast("int").alias("orthonormal"),
        F.lit(descending).cast("int").alias("variance_descending"),
        mean_ok.cast("int").alias("means_centered"),
        var_ok.cast("int").alias("variance_matches_eigen"),
    )


@query(
    "semdedup_invariant_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           1 AS partition_exact,
           1 AS kept_pairwise_below_tau,
           1 AS dropped_have_kept_neighbor,
           1 AS operator_counts_match
    FROM embeddings
    """,
    tags=("dedup", "clustering", "audit", "llm-pipeline"),
)
def semdedup_invariant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable audit twin of the rows-only
    ``semdedup_centroid_prune``: re-proves the greedy leader scan's
    defining guarantees per cluster with an INDEPENDENT full
    similarity matrix (the scan itself only ever computes kept-so-far
    rows): (a) survivors are pairwise BELOW τ — the prune really
    removed every within-cluster near-duplicate pair — and (b) every
    dropped vector has an earlier-kept neighbor at ≥ τ — nothing was
    dropped without a surviving witness. A third verdict pins that
    keep/drop exactly partitions the corpus, and a fourth
    (``operator_counts_match``) joins the audit's per-cluster census
    against the counts ``semdedup_centroid_prune`` itself EMITS — the
    twin executes the audited operator, so a regression in the prune
    flips the verdict instead of passing unexamined (both sides of
    that join are ≤ k rows). The oracle pins the corpus count and all
    four verdicts; similarity values stay engine-internal. Same
    parallel shape as the prune (per-cluster O(m²) inside a task,
    clusters in parallel), one scalar aggregate on top. Verdict
    comparisons carry a 1e-12 slack so BLAS shape-dependent rounding
    (matrix-matrix here vs matrix-vector in the scan) cannot flip a
    boundary case."""
    import numpy as np
    import pandas as pd

    _, assigned = kmeans_fit(spark, sf_dir)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        kept_ids = set(semdedup_keep_ids(pdf))
        kept = pdf["vec_id"].isin(kept_ids).to_numpy()
        kept_rows = np.flatnonzero(kept)
        M = np.stack(pdf["emb"].to_numpy())
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T  # full matrix — the independent re-derivation
        K = np.asarray(kept_rows)
        if len(K) > 1:
            SK = S[np.ix_(K, K)]
            np.fill_diagonal(SK, -1.0)
            kept_ok = bool(SK.max() < SEMDEDUP_TAU + 1e-12)
        else:
            kept_ok = True
        dropped_ok = True
        for i in np.flatnonzero(~kept):
            earlier = K[K < i]
            if len(earlier) == 0 or S[i, earlier].max() < SEMDEDUP_TAU - 1e-12:
                dropped_ok = False
                break
        return pd.DataFrame(
            {
                "cluster": pdf["cluster"].iloc[:1],
                "n": [len(pdf)],
                "n_kept": [len(kept_rows)],
                "n_dropped": [int(len(pdf) - len(kept_rows))],
                "kept_ok": [int(kept_ok)],
                "dropped_ok": [int(dropped_ok)],
            }
        )

    per_cluster = assigned.groupBy("cluster").applyInPandas(
        verify,
        "cluster int, n long, n_kept long, n_dropped long, "
        "kept_ok int, dropped_ok int",
    )
    # the twin must actually touch the audited operator: join the
    # audit's per-cluster census against semdedup_centroid_prune's OWN
    # emitted counts (≤ k rows each side) — a regression in the prune
    # now flips operator_counts_match instead of passing unexamined
    op = semdedup_centroid_prune(spark, sf_dir).select(
        "cluster",
        F.col("n_vectors").alias("op_n"),
        F.col("n_kept").alias("op_kept"),
        F.col("n_dropped").alias("op_dropped"),
    )
    joined = per_cluster.join(op, "cluster", "full_outer")
    mismatch = (
        ~F.col("n").eqNullSafe(F.col("op_n"))
        | ~F.col("n_kept").eqNullSafe(F.col("op_kept"))
        | ~F.col("n_dropped").eqNullSafe(F.col("op_dropped"))
    ).cast("int")
    agg = joined.agg(
        F.sum("n").cast("bigint").alias("n_vectors"),
        F.sum(F.col("n_kept") + F.col("n_dropped")).cast("bigint").alias(
            "n_partitioned"
        ),
        F.min("kept_ok").alias("kept_min"),
        F.min("dropped_ok").alias("dropped_min"),
        F.max(mismatch).alias("any_mismatch"),
    )
    return agg.select(
        "n_vectors",
        (F.col("n_partitioned") == F.col("n_vectors")).cast("int").alias(
            "partition_exact"
        ),
        F.col("kept_min").alias("kept_pairwise_below_tau"),
        F.col("dropped_min").alias("dropped_have_kept_neighbor"),
        (F.col("any_mismatch") == 0).cast("int").alias(
            "operator_counts_match"
        ),
    )
