"""IVFFlat approximate nearest neighbor — the Spark-native rebuild of
`contrib/datavec/src/ivfbuild.cpp` (813 LoC) / `ivfscan.cpp` (358 LoC).

Reference semantics (what, not how):
  * build: sample rows → k-means++ seeding → Lloyd iterations → assign
    every vector to the nearest of `lists` centroids (default 100, max
    32768; `ivfflat.h:43,45`; kmeans in `ivfkmeans.cpp:22,263`).
  * search: rank centroids by distance to the query, scan the top
    `probes` lists (default 1; `ivfflat.cpp:35`), merge candidates by
    true distance (`ivfscan.cpp:31-100`).
  * quality bar (BASELINE.md): recall@20 ≥ 0.71 @ probes=1, ≥ 0.95 @
    probes=10, = 1.00 @ probes=lists on 10k uniform 3-d vectors.

Spark-first design for 100 TB:
  * centroid fit runs on a bounded sample (the reference trains on
    ~50·lists sampled rows too — `ivfbuild.cpp`), k-means++ seeded Lloyd
    in numpy on the driver; the EXPENSIVE step — labeling every row — is
    a pure Catalyst expression (broadcast centroid literal + argmin over
    transform()), whole-stage codegen'd, zero shuffle, no Python in the
    row path.
  * the labeled table is written `partitionBy(list_id)` so a probed
    search is *partition pruning*: Spark reads only `probes`/`lists` of
    the data from disk. That is the distributed analogue of the
    reference's inverted lists.
  * search = rank centroids driver-side (≤32768 rows — tiny, held by
    the index object) → pruned scan of the probed partitions →
    TakeOrderedAndProject(2k) → spill dedup → top k on that one
    partition: one Spark job, no Exchange. A query batch shares one
    pruned scan via an equi-join on list_id.

HNSW lives in `vector/hnsw.py` as SHARDED independent graphs (one
giant pointer-chasing graph does not distribute; S per-shard graphs
built in applyInPandas do) — IVF remains the batch/kNN-join workhorse,
HNSW the low-latency single-query path. See SURVEY.md §2.8.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType

from .distance import (
    DISTANCES,
    METRICS,
    as_double,
    dot_product_sql,
    hamming_distance_sql,
    l2_norm_sql,
    l2_squared_sql,
    query_distance,
)

DEFAULT_LISTS = 100  # ivfflat.h:43
MAX_INDEX_DIM = 2000  # ivfflat.h:25 / hnsw.h:12 — indexable dimension cap
DEFAULT_PROBES = 1  # ivfflat.cpp:35
MAX_LISTS = 32768  # ivfflat.h:45


def _kmeans_fit(
    X: np.ndarray, k: int, seed: int, max_iter: int = 60, tol: float = 1e-7,
    n_init: int = 4,
) -> np.ndarray:
    """Best-of-n_init k-means (lowest within-cluster SSE wins): k-means++
    seeding (ivfkmeans.cpp:22 InitCenters) + Lloyd iterations
    (ivfkmeans.cpp:263; Elkan's pruning is a single-node speed trick we
    don't need at sample scale)."""
    best_C, best_sse = None, float("inf")
    for restart in range(n_init):
        C = _kmeans_once(X, k, seed + restart, max_iter, tol)
        sse = 0.0
        for lo in range(0, len(X), 65536):
            hi = min(lo + 65536, len(X))
            D = ((X[lo:hi, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            sse += float(D.min(axis=1).sum())
        if sse < best_sse:
            best_C, best_sse = C, sse
    return best_C


def _kmeans_once(
    X: np.ndarray, k: int, seed: int, max_iter: int, tol: float
) -> np.ndarray:
    rng = np.random.default_rng(seed)
    n = len(X)
    k = min(k, n)
    # --- k-means++ seeding
    centers = [X[rng.integers(n)]]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        total = d2.sum()
        if total <= 0:
            centers.append(X[rng.integers(n)])
            continue
        i = rng.choice(n, p=d2 / total)
        centers.append(X[i])
        d2 = np.minimum(d2, ((X - X[i]) ** 2).sum(axis=1))
    C = np.array(centers)
    # --- Lloyd
    for _ in range(max_iter):
        # chunk the distance matrix to bound memory at large samples
        assign = np.empty(n, dtype=np.int64)
        for lo in range(0, n, 65536):
            hi = min(lo + 65536, n)
            D = ((X[lo:hi, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign[lo:hi] = D.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
        shift = float(((newC - C) ** 2).sum())
        C = newC
        if shift < tol:
            break
    return C


def _centroid_dists(vec: str, centroids: np.ndarray, metric: str) -> str:
    """SQL text of the array of distance(vec, centroid_j) for every
    centroid: the centroid matrix is one nested array literal
    (broadcast in the plan), distances come from transform() over the
    distance.py kernels' text.
    Whole-stage codegen, no shuffle, no UDF — this is the full-table
    labeling path, so it must scale to every row of a 100 TB table.

    metric="hamming" expects ``vec`` as packed 64-bit words
    (array<bigint>, 32 payload bits per word — the binary_quantize_words
    layout) and integer-valued centroid rows: distance = popcount(XOR)
    per word, a pure JVM integer kernel (bit_hamming_ops,
    bitutils.cpp)."""
    row_sql = METRICS[metric].literal
    cents = "array(" + ",".join(row_sql(c) for c in centroids) + ")"
    if metric == "hamming":
        dist = hamming_distance_sql(vec, "_c")
    elif metric == "cosine":
        # no zero-norm guard: a zero vector's distances stay NULL, as
        # the unguarded division always gave them
        dist = (f"1.0D - {dot_product_sql(vec, '_c')}"
                f" / ({l2_norm_sql(vec)} * {l2_norm_sql('_c')})")
    else:
        # l2 clustering for l2/l1/ip (the reference also k-means'es in
        # euclidean space and ranks lists by the search metric)
        dist = l2_squared_sql(vec, "_c")
    return f"transform({cents}, _c -> {dist})"


def assign_lists_expr(
    vec: str, centroids: np.ndarray, metric: str, spill_epsilon: float
) -> Column:
    """array<int> of list assignments of the SQL-text vector ``vec``:
    the nearest centroid, plus the runner-up when it is within
    `spill_epsilon` × the best distance ("spill" / multi-assignment —
    boundary vectors live in both inverted lists, a standard IVF recall
    hardener; +10-20% storage at ε≈1.4 on squared-L2, recall@probes=1
    +5-7 pts). spill_epsilon=1.0 disables.  One parsed expression."""
    m1 = "array_min(_d)"
    primary = f"CAST(array_position(_d, {m1}) - 1 AS INT)"
    labels = f"array({primary})"
    if spill_epsilon > 1.0:
        m2 = f"array_min(filter(_d, _e -> _e > {m1}))"
        labels = (
            f"CASE WHEN {m2} IS NOT NULL AND {m2} <= {float(spill_epsilon)!r}D * {m1}"
            f" THEN array({primary}, CAST(array_position(_d, {m2}) - 1 AS INT))"
            f" ELSE {labels} END"
        )
    # the distance array is computed once and bound to a lambda variable:
    # spelled inline, each of its uses would copy the whole subtree
    return F.expr(
        f"transform(array({_centroid_dists(vec, centroids, metric)}),"
        f" _d -> {labels})[0]"
    )


_BITS_PER_WORD = 32  # binary_quantize_words payload bits per bigint word


def _unpack_words(W: np.ndarray) -> np.ndarray:
    """(n, nwords) packed ints → (n, nwords·32) 0/1 floats (little-endian
    bit j of word w = column w·32+j, matching binary_quantize_words)."""
    n, nw = W.shape
    out = np.zeros((n, nw * _BITS_PER_WORD), dtype=np.float64)
    Wi = W.astype(np.int64)
    for w in range(nw):
        for j in range(_BITS_PER_WORD):
            out[:, w * _BITS_PER_WORD + j] = (Wi[:, w] >> j) & 1
    return out


def _pack_bits(B: np.ndarray) -> np.ndarray:
    """(k, nwords·32) 0/1 matrix → (k, nwords) packed ints."""
    k, nbits = B.shape
    nw = nbits // _BITS_PER_WORD
    out = np.zeros((k, nw), dtype=np.int64)
    for w in range(nw):
        for j in range(_BITS_PER_WORD):
            out[:, w] |= B[:, w * _BITS_PER_WORD + j].astype(np.int64) << j
    return out


def _popcount(x: np.ndarray) -> np.ndarray:
    """Set bits per int64 (two's complement, as Long.bitCount)."""
    x = np.ascontiguousarray(x, dtype=np.int64)
    bits = np.unpackbits(x.view(np.uint8).reshape(*x.shape, 8), axis=-1)
    return bits.sum(axis=-1).astype(np.float64)


def centroid_distances(
    C: np.ndarray, qvec: Sequence[float], metric: str
) -> np.ndarray:
    """Distance from the query to every centroid row, equal bit for bit
    to the JVM kernels of ``distance.py`` with the centroid as the left
    operand: each one is a left-to-right fold in double over the
    dimension, seeded with 0.0, here run for all centroids at once.
    Returns an object array of floats (ints for hamming) and ``None``
    for SQL NULL: ``zip_with`` pads the shorter array with NULL, so a
    query of another dimension is NULL, except where the cosine
    kernel's zero-norm branch answers NaN first."""
    n, dim = C.shape
    same = len(qvec) == dim
    if metric == "hamming":
        if not same:
            return np.array([None] * n, dtype=object)
        q = np.array([int(x) for x in qvec], dtype=np.int64)
        W = C.astype(np.int64)
        acc = np.zeros(n)
        for j in range(dim):
            acc = acc + _popcount(W[:, j] ^ q[j])
        return np.array([int(v) for v in acc], dtype=object)
    q = np.array([float(x) for x in qvec], dtype=np.float64)

    def fold(term):
        acc = np.zeros(n)
        for j in range(dim):
            acc = acc + term(C[:, j], q[j])
        return acc

    with np.errstate(all="ignore"):
        if metric == "cosine":
            cn = np.zeros(n)
            for j in range(dim):
                cn = cn + C[:, j] * C[:, j]
            qn = 0.0
            for x in q:
                qn = qn + x * x
            denom = np.sqrt(cn) * np.sqrt(qn)
            if not same:
                return np.array(
                    [float("nan") if d == 0.0 else None for d in denom],
                    dtype=object,
                )
            d = np.where(
                denom == 0.0, np.nan, 1.0 - fold(lambda x, y: x * y) / denom
            )
        elif not same:
            return np.array([None] * n, dtype=object)
        elif metric == "l2":
            d = np.sqrt(fold(lambda x, y: (x - y) * (x - y)))
        elif metric == "ip":
            d = -fold(lambda x, y: x * y)
        elif metric == "l1":
            d = fold(lambda x, y: np.abs(x - y))
        else:
            raise ValueError(f"unknown metric {metric!r}")
    return d.astype(object)


def rank_lists(dists: np.ndarray, probes: int) -> list[int]:
    """List ids (row positions) of the ``probes`` smallest distances in
    Spark's ascending order: numbers (-0.0 equal to 0.0), then NaN,
    then NULL last; ties broken by list id."""
    cat = np.array(
        [2 if d is None else 1 if d != d else 0 for d in dists]
    )
    vals = np.array(
        [float(d) + 0.0 if c == 0 else 0.0 for d, c in zip(dists, cat)]
    )
    order = np.lexsort((np.arange(len(dists)), vals, cat))
    return [int(i) for i in order[:max(0, probes)]]


def _as_read(t):
    """Type ``t`` as a parquet read of data written with it reports
    it: every field, array element and map value nullable."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_read(f.dataType), True,
                                       f.metadata) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_as_read(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_read(t.keyType), _as_read(t.valueType), True)
    return t


class IvfIndex:
    """An IVF index = centroid table + data table partitioned by list_id."""

    def __init__(self, path: str, metric: str = "l2", lists: int = DEFAULT_LISTS):
        if not 1 <= lists <= MAX_LISTS:
            raise ValueError(f"lists must be in [1, {MAX_LISTS}]")
        if metric not in METRICS:
            raise ValueError(f"metric must be one of {sorted(METRICS)}")
        self.path = path
        self.metric = metric
        self.lists = lists
        # centroid matrix, row i = list i: set by build(), else loaded
        # once by centroids()
        self._centroids: np.ndarray | None = None
        # the data layout's file schema (list_id, a directory column,
        # left out): set by build(), kept across appends, so reading the
        # layout after an append infers nothing
        self._data_schema = None

    # ---------------------------------------------------------------- build
    @staticmethod
    def build(
        df: DataFrame,
        vec_col: str,
        path: str,
        metric: str = "l2",
        lists: int = DEFAULT_LISTS,
        sample_rows: int | None = None,
        seed: int = 42,
        max_iter: int = 60,
        spill_epsilon: float = 1.44,
    ) -> "IvfIndex":
        """Fit centroids on a bounded sample, then label and re-layout the
        full table partitioned by list_id. Null vectors are dropped
        (never indexed — datavec behavior)."""
        idx = IvfIndex(path, metric=metric, lists=lists)
        clean = df.filter(F.col(vec_col).isNotNull())

        first = clean.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is not None and first.d > MAX_INDEX_DIM:
            raise ValueError(
                f"cannot index {first.d}-d vectors: dimension cap is "
                f"{MAX_INDEX_DIM} (ivfflat.h:25)"
            )

        if sample_rows is None:
            sample_rows = max(50 * lists, 10_000)  # ivfbuild.cpp sampling scale
        n = clean.count()
        fraction = min(1.0, (sample_rows * 1.2) / max(n, 1))
        sample_df = clean.sample(fraction=fraction, seed=seed) if fraction < 1.0 else clean
        sample = np.array(
            [r[0] for r in sample_df.selectExpr(as_double(vec_col)).limit(sample_rows).collect()],
            dtype=np.float64,
        )
        # collect order is partition-order nondeterministic → canonicalize
        # so the k-means++ draw (and thus the index) is reproducible
        sample = sample[np.lexsort(sample.T[::-1])]
        if metric == "cosine":
            norms = np.linalg.norm(sample, axis=1, keepdims=True)
            sample = sample / np.maximum(norms, 1e-12)
        if metric == "hamming":
            # bit_hamming_ops (ivfflat_bit.sql): k-means in the relaxed
            # 0/1-per-bit space (L2 there = Hamming on binary points),
            # then binarize the centers back to packed words — every
            # list centroid is itself a valid bit vector, and ranking/
            # labeling stay pure integer XOR-popcount kernels
            bits = _unpack_words(sample)
            centers = _kmeans_fit(bits, lists, seed=seed, max_iter=max_iter)
            centroids = _pack_bits(centers >= 0.5)
        else:
            centroids = _kmeans_fit(sample, lists, seed=seed, max_iter=max_iter)

        labeled = clean.withColumn(
            "list_id",
            F.explode(assign_lists_expr(METRICS[metric].operand(vec_col),
                                        centroids, metric, spill_epsilon)),
        )
        (
            labeled.repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(os.path.join(path, "data"))
        )

        spark = df.sparkSession
        spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "list_id INT, centroid ARRAY<DOUBLE>",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centroids"))
        from ..catalog import invalidate_table_cache

        invalidate_table_cache(path)  # rebuilds rewrite in place
        idx._data_schema = _as_read(clean.schema)
        idx._centroids = np.array(
            [[float(x) for x in c] for c in centroids], dtype=np.float64
        )
        return idx

    # ---------------------------------------------------------------- load
    def data(self, spark: SparkSession) -> DataFrame:
        from ..catalog import parquet_handle

        return parquet_handle(spark, os.path.join(self.path, "data"),
                              self._data_schema)

    # --------------------------------------------------------------- search
    def centroids(self, spark: SparkSession) -> np.ndarray:
        """The centroid matrix (row i = list i): the one build() fitted,
        or the stored table read once per index object."""
        if self._centroids is None:
            from ..catalog import parquet_handle

            rows = parquet_handle(
                spark, os.path.join(self.path, "centroids")
            ).collect()
            self._centroids = np.array(
                [list(c) for _, c in sorted(
                    (r.list_id, r.centroid) for r in rows
                )],
                dtype=np.float64,
            )
        return self._centroids

    def _probe_lists(
        self, spark: SparkSession, qvec: Sequence[float], probes: int
    ) -> list[int]:
        """Rank centroids by distance to the query (ivfscan.cpp:31-100
        ranks its lists in process too) and return the ``probes``
        winning list ids, which parameterize the partition-pruning
        filter.  The ranking runs on the driver over the held centroid
        matrix with the JVM kernels' fold order and Spark's
        (distance, list_id) sort order, so it picks the lists an
        ``orderBy(_d, list_id)`` over the centroid table would, without
        a Spark job; the fold is vectorized across centroids, so the
        32768-list maximum is no per-element Python loop."""
        return rank_lists(
            centroid_distances(self.centroids(spark), qvec, self.metric),
            probes,
        )

    def search(
        self,
        spark: SparkSession,
        qvec: Sequence[float],
        vec_col: str,
        k: int = 10,
        probes: int = DEFAULT_PROBES,
        id_col: str | None = None,
        where=None,
    ) -> DataFrame:
        """Probed ANN search: filter on list_id prunes partitions at the
        parquet source — only probes/lists of the index is read.

        ``where`` (optional Column) is the filtered-ANN path
        (t/009_ivfflat_filtering.pl): the predicate is applied inside the
        pruned scan, before the top-k heap, so selective filters cut the
        ranked set the way the reference's qual-during-indexscan does.
        With selective filters raise ``probes`` to protect recall."""
        lists = self._probe_lists(spark, qvec, probes)
        pruned = self.data(spark).filter(
            f"list_id IN ({','.join(map(str, lists))})"
            f" AND `{vec_col}` IS NOT NULL"
        ).drop("list_id")
        if where is not None:
            pruned = pruned.filter(where)
        d = query_distance(self.metric, vec_col, qvec)
        order = [F.col("distance").asc_nulls_last()]
        if id_col:
            order.append(F.col(id_col).asc())
        # spill assignment puts a row in at most two lists, and both
        # copies sort together, so the 2k nearest rows of the probed
        # lists hold the k nearest distinct rows: the dedup and the
        # final cut run on the single partition the first top-k left
        # (no shuffle, one job)
        return (
            pruned.withColumn("distance", d).orderBy(*order).limit(2 * k)
            .dropDuplicates([id_col] if id_col else None)
            .orderBy(*order).limit(k)
        )

    def knn_join(
        self,
        spark: SparkSession,
        queries: DataFrame,
        query_vec: str,
        vec_col: str,
        k: int = 10,
        probes: int = DEFAULT_PROBES,
        query_id: str = "qid",
        cand_id: str = "cid",
        broadcast_queries: int | None = None,
    ) -> DataFrame:
        """Batch ANN join: assign each query to its probe lists (broadcast
        centroids, JVM-side rank-over-window), then equi-join queries to
        candidates on list_id — a co-partitioned join instead of a cross
        join, which is what makes 100 TB × 1M queries feasible.

        The probe_map side is |queries| × probes rows each carrying the
        full query vector; at 1M queries that is multi-GB and Spark
        hard-caps broadcasts at 8 GB, so it is NOT hinted — the equi-join
        on list_id shuffles both sides (AQE still picks a broadcast at
        runtime when the map is genuinely small). A caller that KNOWS the
        query batch is tiny can pass ``broadcast_queries=<row count>``
        and the hint is applied only under that explicit guard
        (≤ 100_000 rows)."""
        from pyspark.sql import Window as W

        from ..catalog import parquet_handle

        cents = parquet_handle(
            spark, os.path.join(self.path, "centroids")
        )
        dist_fn = DISTANCES[self.metric]
        q = queries.selectExpr(f"`{query_id}`",
                               f"{as_double(query_vec)} AS _qv")
        # centroids are bounded (≤ 32768 lists) — always broadcastable
        scored = q.crossJoin(F.broadcast(cents)).withColumn(
            "_cd", dist_fn("_qv", "centroid")
        )
        w = W.partitionBy(query_id).orderBy(F.col("_cd").asc(), F.col("list_id"))
        probe_map = (
            scored.withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") <= probes)
            .select(query_id, "_qv", "list_id")
        )
        if broadcast_queries is not None and broadcast_queries <= 100_000:
            probe_map = F.broadcast(probe_map)
        cand = self.data(spark).filter(F.col(vec_col).isNotNull())
        pairs = (
            cand.join(probe_map, "list_id")
            # spill duplicates: one candidate can sit in two probed lists
            .dropDuplicates([query_id, cand_id])
            .withColumn("_d", dist_fn("_qv", as_double(vec_col)))
        )
        w2 = W.partitionBy(query_id).orderBy(F.col("_d").asc(), F.col(cand_id).asc())
        return (
            pairs.withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= k)
            .select(query_id, cand_id, F.col("_d").alias("distance"), "_rn")
        )
