"""Similarity search: brute-force exactness vs numpy, LSH recall and
candidate containment, embedding near-dup."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mapreduce_join_comparison_spark.operators.dedup import embedding_near_dup_pairs
from mapreduce_join_comparison_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    train_ivf_centroids,
)


@pytest.fixture(scope="module")
def embeddings(spark, tables):
    return tables["embeddings"]


@pytest.fixture(scope="module")
def numpy_corpus(embeddings):
    rows = embeddings.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, mat


def numpy_topk(ids, mat, qid, k):
    qi = np.where(ids == qid)[0][0]
    q = mat[qi]
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(
        ((float(c), int(i)) for c, i in zip(cos, ids) if i != qid),
        key=lambda t: (-t[0], t[1]),
    )
    return [i for _, i in order[:k]]


def test_brute_force_matches_numpy(spark, embeddings, numpy_corpus):
    ids, mat = numpy_corpus
    queries = embeddings.filter("vec_id IN (0, 7, 42)").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = brute_force_topk(embeddings, queries, k=5)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["corpus_id"]))
    for qid in (0, 7, 42):
        spark_ids = [c for _, c in sorted(by_q[qid])]
        assert spark_ids == numpy_topk(ids, mat, qid, 5), f"query {qid}"


def test_lsh_topk_recall(spark, embeddings, numpy_corpus):
    ids, mat = numpy_corpus
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = lsh_topk(embeddings, queries, dim=64, k=5, n_planes=4, n_tables=12)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
    # recall@5 vs exact: LSH with 6 planes keeps ~1/64 of corpus per
    # bucket; expect meaningful overlap on average, not per-query
    recalls = []
    for qid in range(20):
        exact = set(numpy_topk(ids, mat, qid, 5))
        approx = by_q.get(qid, set())
        recalls.append(len(exact & approx) / 5)
    assert sum(recalls) / len(recalls) > 0.4


def test_lsh_results_subset_of_scored_universe(spark, embeddings):
    queries = embeddings.filter("vec_id = 3").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=500)
    approx = lsh_topk(embeddings, queries, dim=64, k=500, n_planes=4, n_tables=4)
    exact_scores = {
        (r["query_id"], r["corpus_id"]): r["cosine"] for r in exact.collect()
    }
    for r in approx.collect():
        key = (r["query_id"], r["corpus_id"])
        assert key in exact_scores
        assert abs(exact_scores[key] - r["cosine"]) < 1e-9


def test_ivf_topk_recall_and_determinism(spark, embeddings, numpy_corpus):
    ids, mat = numpy_corpus
    queries = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    cents = train_ivf_centroids(embeddings, dim=64, n_cells=8, seed=42)
    assert len(cents) == 8 and len(cents[0]) == 64
    got = ivf_topk(embeddings, queries, dim=64, k=5, n_cells=8, nprobe=4,
                   centroids=cents)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], set()).add(r["corpus_id"])
    recalls = []
    for qid in range(20):
        exact = set(numpy_topk(ids, mat, qid, 5))
        approx = by_q.get(qid, set())
        recalls.append(len(exact & approx) / 5)
    # probing half the cells: expect solid average recall
    assert sum(recalls) / len(recalls) > 0.4
    # same centroids → identical result set (deterministic)
    again = ivf_topk(embeddings, queries, dim=64, k=5, n_cells=8, nprobe=4,
                     centroids=cents)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, again.collect()))


def test_ivf_centroids_ignore_partition_layout(embeddings):
    """The training sample is chosen by a per-row hash, so the same
    corpus in 1, 4 or 7 partitions trains identical centroids — both
    when the sample cuts the corpus and when it takes it whole."""
    n = embeddings.count()
    for sample_rows in (n // 3, n):
        cents = [
            train_ivf_centroids(embeddings.repartition(p), dim=64, n_cells=8,
                                sample_rows=sample_rows, seed=42)
            for p in (1, 4, 7)
        ]
        assert cents[0] == cents[1] == cents[2], sample_rows


def test_ivf_scores_are_exact_cosines(spark, embeddings):
    queries = embeddings.filter("vec_id = 3").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=500)
    approx = ivf_topk(embeddings, queries, dim=64, k=500, n_cells=8, nprobe=2)
    exact_scores = {
        (r["query_id"], r["corpus_id"]): r["cosine"] for r in exact.collect()
    }
    for r in approx.collect():
        key = (r["query_id"], r["corpus_id"])
        assert key in exact_scores
        assert abs(exact_scores[key] - r["cosine"]) < 1e-9


def test_embedding_near_dup_symmetric_threshold(spark, embeddings):
    pairs = embedding_near_dup_pairs(embeddings.limit(100), threshold=0.5)
    rows = pairs.collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert r["cosine"] >= 0.5


def test_random_projection_preserves_distances(spark, embeddings):
    from mapreduce_join_comparison_spark.operators.similarity import (
        projection_matrix,
        random_projection,
    )

    sample = embeddings.filter("vec_id < 40")
    out = random_projection(sample, in_dim=64, out_dim=8, seed=7)
    rows = {r["vec_id"]: [r[f"rp{j}"] for j in range(8)] for r in out.collect()}
    assert len(rows) == 40

    # matches a NumPy replay of the same seeded matrix
    mat = np.array(projection_matrix(64, 8, seed=7))
    src = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in sample.collect()
    }
    for vid, comps in rows.items():
        expect = mat @ src[vid]
        assert np.allclose(comps, np.round(expect, 6), atol=1e-6)

    # JL property: projected pairwise distances stay within a bounded
    # distortion band of the originals (distances in this near-uniform
    # synthetic corpus concentrate, so correlation would be noise — the
    # distortion ratio is the right invariant)
    ids = sorted(rows)
    full = np.array([src[i] for i in ids])
    red = np.array([rows[i] for i in ids])
    ratios = []
    for a in range(0, len(ids), 3):
        for b in range(a + 1, len(ids), 3):
            d_full = np.linalg.norm(full[a] - full[b])
            ratios.append(np.linalg.norm(red[a] - red[b]) / d_full)
    ratios = np.array(ratios)
    assert 0.7 < ratios.mean() < 1.3
    assert (np.abs(ratios - 1.0) < 1.0).mean() > 0.9


def test_embedding_near_dup_lsh_subset_and_recall(spark, embeddings):
    """The LSH-blocked near-dup (the registered/production form) must
    emit only true pairs (subset of all-pairs at the same threshold,
    identical cosines) and catch most of them — the all-pairs form is
    the recall oracle."""
    from mapreduce_join_comparison_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    # 0.2 sits in the body of the near-random cosine distribution, so
    # the recall denominator is populated at sf0.001
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(embeddings, threshold=0.2).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs_lsh(
            embeddings, dim=64, threshold=0.2, n_planes=4, n_tables=8
        ).collect()
    }
    assert exact, "threshold too high — recall test has no denominator"
    for key, cos in blocked.items():
        assert key in exact, f"LSH emitted a non-pair {key}"
        assert abs(cos - exact[key]) < 1e-9
    # hyperplane LSH at cos≥0.2 (θ≤78°): per-table hit ≈ 0.32⁴, 8
    # tables → modest per-pair recall; the catalog's 0.4 threshold
    # pairs are hit far harder. Assert a conservative floor.
    assert len(blocked) / len(exact) > 0.3


def test_projected_rerank_lsh_mode_subset_and_recall(spark, embeddings):
    """LSH-shortlisted rerank (the registered/production form): scores
    are exact cosines and recall vs exact top-k stays useful."""
    from mapreduce_join_comparison_spark.operators.similarity import (
        projected_rerank_topk,
    )

    queries = embeddings.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=10)
    approx = projected_rerank_topk(
        embeddings, queries, k=10, shortlist=100, out_dim=16,
        lsh_planes=4, lsh_tables=8,
    )
    exact_scores = {
        (r["query_id"], r["corpus_id"]): round(r["cosine"], 6)
        for r in exact.collect()
    }
    exact_sets = {}
    for (q, c) in exact_scores:
        exact_sets.setdefault(q, set()).add(c)
    approx_sets = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
        key = (r["query_id"], r["corpus_id"])
        if key in exact_scores:
            assert abs(r["cosine"] - exact_scores[key]) < 2e-6
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) > 0.4


def test_projected_rerank_recall_vs_exact(spark, embeddings):
    from mapreduce_join_comparison_spark.operators.similarity import (
        projected_rerank_topk,
    )

    queries = embeddings.filter("vec_id < 10").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    exact = brute_force_topk(embeddings, queries, k=10)
    approx = projected_rerank_topk(
        embeddings, queries, k=10, shortlist=100, out_dim=16
    )
    exact_sets = {}
    for r in exact.collect():
        exact_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
    approx_sets = {}
    approx_scores = {}
    for r in approx.collect():
        approx_sets.setdefault(r["query_id"], set()).add(r["corpus_id"])
        approx_scores[(r["query_id"], r["corpus_id"])] = r["cosine"]
    # reranked scores are exact cosines (subset-of-exact check)
    exact_scores = {
        (r["query_id"], r["corpus_id"]): round(r["cosine"], 6)
        for r in exact.collect()
    }
    for key, cos in approx_scores.items():
        if key in exact_scores:
            assert abs(cos - exact_scores[key]) < 2e-6
    # uniform-random vectors are JL's worst case; a 10x shortlist on a
    # 16-d projection still retrieves most of the true top-10
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 10
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) > 0.5


def test_ivfpq_recall_and_subset(spark, embeddings):
    """IVF-PQ: the ADC shortlist + exact re-rank must (a) return exact
    cosines, (b) recover most of the IVF-Flat recall ceiling (the
    coarse probe bounds recall; the seeded random codebook costs some
    of the rest — production trains it), (c) stay within the probed
    cells (subset of IVF-Flat's candidate universe at equal nprobe
    when shortlist covers the cells)."""
    from mapreduce_join_comparison_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
    )
    from mapreduce_join_comparison_spark.queries_catalog import (
        _IVF_CENTROIDS,
    )

    q = embeddings.filter("vec_id < 20").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    bf = {(r["query_id"], r["corpus_id"])
          for r in brute_force_topk(embeddings, q, k=10).collect()}
    flat = {(r["query_id"], r["corpus_id"])
            for r in ivf_topk(embeddings, q, dim=64, k=10,
                              centroids=_IVF_CENTROIDS).collect()}
    pq_rows = ivfpq_topk(embeddings, q, dim=64, k=10, shortlist=120,
                         centroids=_IVF_CENTROIDS).collect()
    pq = {(r["query_id"], r["corpus_id"]) for r in pq_rows}
    ceiling = len(flat & bf) / len(bf)
    recall = len(pq & bf) / len(bf)
    assert recall >= 0.8 * ceiling
    # exact cosines on the re-ranked rows
    import math

    emb = {r["vec_id"]: r["embedding"] for r in embeddings.collect()}

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return d / (na * nb)

    for r in pq_rows[:20]:
        want = cos(emb[r["query_id"]], emb[r["corpus_id"]])
        assert abs(r["cosine"] - want) < 1e-9
