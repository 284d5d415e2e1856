"""Tie-safety pins for batch selection kernels (VERDICT r12 task 5).

The r12 100x census caught `np.argpartition`'s arbitrary tie-break
discarding exactly the candidate the global (score DESC, id ASC) merge
needed — wrong merged top-k on any corpus with duplicate embeddings.
That bug class lives wherever a batch-local kernel selects by score
alone while the global contract is a total order. These tests feed
every remaining selection kernel the adversarial extreme — a corpus of
IDENTICAL vectors, where every score ties — and assert the merged
result equals the (score DESC, id ASC) window-order oracle, which on
an all-tie corpus is simply "the k smallest ids excluding self",
computable by hand.
"""

from __future__ import annotations

import hashlib

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from watermill_kinesis_spark.registry import all_specs
from watermill_kinesis_spark.operators.similarity import N_QUERIES, TOP_K
from watermill_kinesis_spark.operators.similarity import KNN_MUTUAL_K

N_VEC = 40
DIM = 64


def make_dup_embeddings(path, n=N_VEC, blocks=2):
    """n vec_ids 0..n-1 sharing ONE identical nonzero embedding;
    labels split ids into `blocks` contiguous blocks."""
    path.mkdir(parents=True, exist_ok=True)
    vec = [1.0] * DIM
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([vec] * n, pa.list_(pa.float32())),
            "label": pa.array(
                [i * blocks // n for i in range(n)], pa.int32()
            ),
        }
    )
    pq.write_table(tbl, str(path / "embeddings.parquet"))
    return str(path)


def run(name, spark, sf):
    return all_specs()[name].fn(spark, sf).toPandas()


def expected_topk(qids, all_ids, k):
    """All scores tie => global (score DESC, id ASC) top-k per query
    is the k smallest ids excluding the query itself."""
    exp = {}
    for q in qids:
        exp[q] = sorted(i for i in all_ids if i != q)[:k]
    return exp


def test_similarity_topk_all_ties(spark, tmp_path):
    sf = make_dup_embeddings(tmp_path / "sf")
    out = run("similarity_topk", spark, sf)
    exp = expected_topk(range(N_QUERIES), range(N_VEC), TOP_K)
    for q, grp in out.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["neighbor_id"]) == exp[q], f"query {q}"
    assert set(out["query_id"]) == set(range(N_QUERIES))


def test_matryoshka_audit_all_ties(spark, tmp_path):
    """Full and truncated rankings coincide on an identical corpus =>
    overlap must be exactly TOP_K for every query — any tie-unsafe
    batch selection in either variant breaks the equality."""
    sf = make_dup_embeddings(tmp_path / "sf")
    out = run("embedding_matryoshka_audit", spark, sf)
    assert len(out) == N_QUERIES
    overlap_col = [c for c in out.columns if c not in ("query_id",)][0]
    assert list(out[overlap_col]) == [TOP_K] * N_QUERIES


def test_knn_mutual_all_ties(spark, tmp_path):
    """Blocked mutual-kNN on identical vectors: per-block top-k is
    the k smallest other ids; mutual degrees computed by an
    independent pure-integer graph oracle in the test."""
    sf = make_dup_embeddings(tmp_path / "sf", blocks=2)
    out = run("knn_mutual_label_blocked", spark, sf)
    # independent oracle over int ids only (no float anywhere)
    labels = {i: i * 2 // N_VEC for i in range(N_VEC)}
    topk = {}
    for i in range(N_VEC):
        block = [j for j in range(N_VEC) if labels[j] == labels[i] and j != i]
        topk[i] = set(sorted(block)[:KNN_MUTUAL_K])
    expected = {
        i: sum(1 for j in topk[i] if i in topk[j]) for i in range(N_VEC)
    }
    got = dict(zip(out["vec_id"], out["n_mutual"]))
    assert got == {i: v for i, v in expected.items()}


def test_binary_quant_hamming_all_ties(spark, tmp_path):
    """Identical codes => hamming 0 everywhere: the cutoff keeps the
    full tie set and the final (hamming, neighbor_id) window must
    still produce exactly the k smallest ids per query."""
    sf = make_dup_embeddings(tmp_path / "sf")
    out = run("binary_quant_hamming_topk", spark, sf)
    exp = expected_topk(range(N_QUERIES), range(N_VEC), TOP_K)
    for q, grp in out.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["neighbor_id"]) == exp[q], f"query {q}"
        assert list(grp["hamming"]) == [0] * TOP_K


def test_kcenter_audit_all_ties(spark, tmp_path):
    """Gonzalez on an all-duplicate corpus: every candidate ties at
    distance 0 — the selection must still pick k DISTINCT ids (the
    r13 find: without excluding chosen ids it re-picked center 0
    forever) and the separation >= radius invariant holds at 0 = 0."""
    sf = make_dup_embeddings(tmp_path / "sf")
    out = run("kcenter_diversity_audit", spark, sf).iloc[0]
    assert out["n_points"] == N_VEC
    assert out["all_centers_distinct"] == 1
    assert out["separation_ge_radius"] == 1


def test_reservoir_sample_rank_oracle(spark, tmp_path):
    """Deterministic reservoir face: ranks must equal an independent
    md5 ranking computed in the test (hashlib, not the engine)."""
    path = tmp_path / "sf"
    path.mkdir(parents=True, exist_ok=True)
    docs = pd.DataFrame(
        {
            "doc_id": pd.array(range(30), dtype="int64"),
            "text": ["x"] * 30,
            "lang": ["en"] * 30,
            "source": ["s"] * 30,
            "n_chars": pd.array([1] * 30, dtype="int64"),
        }
    )
    docs.to_parquet(str(path / "documents.parquet"), index=False)
    out = run("reservoir_sample_per_source", spark, str(path))
    order = sorted(range(30), key=lambda d: (hashlib.md5(str(d).encode()).hexdigest(), d))
    expected = order[:10]
    got = out.sort_values("sample_rank")
    assert list(got["doc_id"]) == expected
    assert list(got["sample_rank"]) == list(range(1, 11))
