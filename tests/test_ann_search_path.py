"""The one ANN search path, ``AnnCatalog.topk``, against numpy truth:
every metric of ``distance.METRICS`` (hamming over packed bit words
included) is served by the exact scan and by the HNSW join-back, the
HNSW branches report the distance kernel's value with and without a
filter, and ``ef_search=None`` reaches the index as the unbounded beam.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from opengauss_vectordb_spark.plans.ann_rewrite import AnnCatalog
from opengauss_vectordb_spark.vector.exact import knn
from opengauss_vectordb_spark.vector.hnsw import DEFAULT_EF_SEARCH, HnswIndex


def _popcount_topk(W, ids, q, k):
    """(id, hamming) of the k rows nearest ``q`` by popcount(XOR),
    ties broken by id."""
    x = np.bitwise_xor(W, np.asarray(q, dtype=np.int64))
    d = np.unpackbits(x.view(np.uint8), axis=1).sum(axis=1)
    order = np.lexsort((ids, d))[:k]
    return [(int(ids[i]), int(d[i])) for i in order]


def _bit_words(spark):
    """80 rows of two random 32-bit words, a query and its numpy top 10."""
    rng = np.random.default_rng(23)
    W = rng.integers(0, 2**32, (80, 2), dtype=np.int64)
    ids = np.arange(80, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(i), [int(w) for w in row]) for i, row in zip(ids, W)],
        "id BIGINT, bits ARRAY<BIGINT>",
    )
    q = [int(w) for w in rng.integers(0, 2**32, 2)]
    return df, q, _popcount_topk(W, ids, q, 10)


def test_hamming_through_exact_knn_matches_numpy(spark):
    df, q, want = _bit_words(spark)
    got = knn(df, "bits", q, k=10, metric="hamming", id_col="id")
    assert [(r.id, r.distance) for r in got.collect()] == want


def test_hamming_through_hnsw_topk_matches_numpy(spark, tmp_path):
    df, q, want = _bit_words(spark)
    idx = HnswIndex.build(df, "bits", str(tmp_path / "h"), id_col="id",
                          metric="hamming", shards=2)
    cat = AnnCatalog()
    cat.register("t", "bits", idx)
    got = cat.topk(spark, "t", df, "bits", q, k=10, metric="hamming",
                   id_col="id", ef_search=None)
    assert [(r.id, r.distance) for r in got.collect()] == want


def _cosine_index(spark, tmp_path):
    """30 3-d rows, row 5 the zero vector, under an HNSW cosine index."""
    rng = np.random.default_rng(5)
    X = rng.random((30, 3))
    X[5] = 0.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], i % 2) for i, v in enumerate(X)],
        "id BIGINT, v ARRAY<DOUBLE>, g INT",
    )
    idx = HnswIndex.build(df, "v", str(tmp_path / "h"), id_col="id",
                          metric="cosine", shards=2)
    cat = AnnCatalog()
    cat.register("t", "v", idx)
    return df, cat


def test_hnsw_topk_reports_the_kernel_distance_with_and_without_where(
        spark, tmp_path):
    """The zero vector's cosine distance is the kernel's NaN on both
    HNSW branches, as on the exact scan (the graph ranks it as inf)."""
    df, cat = _cosine_index(spark, tmp_path)
    q = [0.2, 0.5, 0.9]

    def dists(frame):
        return {r.id: "NaN" if r.distance != r.distance else r.distance
                for r in frame.collect()}

    exact = dists(knn(df, "v", q, k=30, metric="cosine", id_col="id"))
    assert exact[5] == "NaN"
    for where in (None, F.col("g") == 1):
        got = dists(cat.topk(spark, "t", df, "v", q, k=30, metric="cosine",
                             id_col="id", ef_search=None, where=where))
        assert got.get(5) == "NaN", (where, got.get(5))
        assert got == {i: d for i, d in exact.items()
                       if where is None or i % 2 == 1}, where


def test_topk_ef_search_none_is_the_unbounded_beam(spark, tmp_path,
                                                   monkeypatch):
    df, cat = _cosine_index(spark, tmp_path)
    seen = []
    search, filtered = HnswIndex.search, HnswIndex.search_filtered

    def spy_search(self, spark, qvec, k=10, ef_search=DEFAULT_EF_SEARCH):
        seen.append(("search", ef_search))
        return search(self, spark, qvec, k=k, ef_search=ef_search)

    def spy_filtered(self, *args, ef_search=DEFAULT_EF_SEARCH, **kw):
        seen.append(("filtered", ef_search))
        return filtered(self, *args, ef_search=ef_search, **kw)

    monkeypatch.setattr(HnswIndex, "search", spy_search)
    monkeypatch.setattr(HnswIndex, "search_filtered", spy_filtered)
    q = [0.2, 0.5, 0.9]
    for where in (None, F.col("g") == 1):
        cat.topk(spark, "t", df, "v", q, k=3, metric="cosine", id_col="id",
                 ef_search=None, where=where).collect()
    cat.topk(spark, "t", df, "v", q, k=3, metric="cosine",
             id_col="id").collect()
    assert seen == [("search", None), ("filtered", None),
                    ("search", DEFAULT_EF_SEARCH)]
