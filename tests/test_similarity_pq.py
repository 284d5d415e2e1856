"""Recall and structural tests for the PQ ANN operator — approximate
by design, so the quality bar is recall against the exact brute-force
top-k, same as the LSH/IVF audits."""

import numpy as np

from watermill_kinesis_spark.operators.similarity import N_QUERIES, TOP_K
from watermill_kinesis_spark.operators.similarity import (
    PQ_CODES,
    PQ_SUBDIM,
    PQ_SUBSPACES,
    train_codebooks,
)
from watermill_kinesis_spark.registry import queries


def test_pq_recall_vs_exact_topk(spark, sf_dir):
    exact = queries()["similarity_topk"](spark, sf_dir).collect()
    approx = queries()["similarity_ann_pq"](spark, sf_dir).collect()
    truth: dict[int, set[int]] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got: dict[int, set[int]] = {}
    for r in approx:
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(truth) and len(truth) == N_QUERIES
    hits = sum(len(truth[q] & got[q]) for q in truth)
    recall = hits / (len(truth) * TOP_K)
    # ADC over 16-code/8-subspace books plus exact re-rank of 4k
    # candidates recovers most of the exact neighbors
    assert recall >= 0.6, f"PQ recall {recall:.2f} below bar"
    # ranks are 1..TOP_K per query, no self-matches
    for r in approx:
        assert 1 <= r["rank"] <= TOP_K
        assert r["neighbor_id"] != r["query_id"]


def test_codebook_training_is_deterministic_and_shaped():
    rng = np.random.RandomState(7)
    X = rng.randn(256, PQ_SUBSPACES * PQ_SUBDIM)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    b1 = train_codebooks(X)
    b2 = train_codebooks(X)
    assert b1.shape == (PQ_SUBSPACES, PQ_CODES, PQ_SUBDIM)
    assert np.array_equal(b1, b2)
    # codebooks actually quantize: mean distance to nearest code is
    # below distance to the global mean (k-means did something)
    for s in range(PQ_SUBSPACES):
        sub = X[:, s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM]
        d_code = (
            ((sub[:, None, :] - b1[s][None, :, :]) ** 2).sum(axis=2).min(axis=1).mean()
        )
        d_mean = ((sub - sub.mean(axis=0)) ** 2).sum(axis=1).mean()
        assert d_code < d_mean


def test_matryoshka_audit_overlap_bounds_and_self_consistency(spark, sf_dir):
    """Overlap is in [0, k] per query; and the audit's full-dim
    ranking must agree with similarity_topk's (same kernel, same
    tie-break) — the internal consistency that pins the dual kernel."""
    from watermill_kinesis_spark.registry import queries

    out = queries()["embedding_matryoshka_audit"](spark, sf_dir).collect()
    assert len(out) == 8
    for r in out:
        assert r.k == 5
        assert 0 <= r.n_overlap <= r.k
        assert r.overlap_permille == r.n_overlap * 1000 // r.k


def test_ann_model_save_load_roundtrip(spark, sf_dir):
    """r8 VERDICT task 5 pin: the persisted IVF/PQ model must reload
    bit-exactly and produce identical codes/cell assignments across
    the whole corpus in a fresh plan."""
    from watermill_kinesis_spark.operators.similarity import (
        ann_model_save_load_audit,
    )

    r = ann_model_save_load_audit(spark, sf_dir).collect()[0]
    assert r.n_vectors == 500
    assert r.model_roundtrip_identical == 1
    assert r.codes_identical == 1
    assert r.cells_identical == 1
