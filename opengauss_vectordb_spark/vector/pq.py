"""Product quantization — the vector-COMPRESSION scale path (beyond the
reference's IVFFlat/HNSW float storage; the public-knowledge design is
Jégou et al.'s PQ, the same family datavec's roadmap and every large ANN
system use for >memory corpora).

Why it matters at 100 TB: a 64-d float32 embedding is 256 bytes; with
M=16 subspaces × K=16 centroids each vector becomes 16 4-bit codes =
8 bytes — a 32× storage/scan-bandwidth cut. Search is asymmetric
distance computation (ADC): per query build an M×K lookup table of
exact subspace distances driver-side (tiny numpy), then score every code
row JVM-side as Σ_m lut[m][code_m] — pure Catalyst expressions over the
codes column, no Python per row. A coarse ADC top-R then exact-reranks
the short list (two-stage, like the binary rerank in
vector/queries.py), which restores recall lost to quantization.

Division of labor (mirrors halfvec_quantize / IvfIndex.build):
  * codebook fit: bounded driver sample + numpy k-means per subspace
    (seeded — deterministic codebooks for the same input)
  * encode: Arrow-batched pandas UDF (a storage cast at ingest, not
    query-path work — vectorized argmin over the sample×K distance
    matrix per subspace)
  * score: JVM-side fold over zip_with(codes, LUT literal)
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd  # noqa: F401 — needed in module globals so the
# pandas_udf type-hint resolver can evaluate the "pd.Series" annotations
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .distance import as_double
from .ivf import _kmeans_fit


class PqCodebooks:
    """M per-subspace codebooks, each K centroids of dim d/M."""

    def __init__(self, codebooks: np.ndarray):
        # shape (M, K, sub_dim)
        self.codebooks = codebooks
        self.m, self.k, self.sub_dim = codebooks.shape

    @classmethod
    def fit(
        cls,
        df: DataFrame,
        vec_col: str,
        m: int = 16,
        k: int = 16,
        sample_rows: int = 20_000,
        seed: int = 7,
    ) -> "PqCodebooks":
        """Train on a bounded UNIFORM sample (the IvfIndex.build
        convention, ivf.py). A head `.limit(n)` would be biased on any
        clustered layout — e.g. parquet written `partitionBy(list_id)`
        after IVF ingest, where the first rows all come from one or two
        lists — so sample by fraction across all partitions, then
        canonicalize the order so the seeded k-means is reproducible."""
        clean = df.filter(F.col(vec_col).isNotNull()).select(vec_col)
        n = clean.count()
        fraction = min(1.0, (sample_rows * 1.2) / max(n, 1))
        sample_df = (
            clean.sample(fraction=fraction, seed=seed)
            if fraction < 1.0
            else clean
        )
        rows = sample_df.limit(sample_rows).collect()
        X = np.array([list(r[0]) for r in rows], dtype=np.float64)
        # collect order is partition-order nondeterministic → canonicalize
        X = X[np.lexsort(X.T[::-1])]
        dim = X.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        books = np.stack(
            [
                _kmeans_fit(X[:, j * sub : (j + 1) * sub], k, seed + j)
                for j in range(m)
            ]
        )
        return cls(books)

    # ------------------------------------------------------------ encode
    def encode_udf(self):
        """Arrow-batched encoder: vector → array<int> of M code indices
        (ingest-time storage cast; vectorized argmin per subspace)."""
        from pyspark.sql.functions import pandas_udf

        books = self.codebooks
        m, sub = self.m, self.sub_dim

        @pandas_udf("array<int>")
        def encode(v: "pd.Series") -> "pd.Series":
            def enc(a):
                if a is None:
                    return None
                x = np.asarray(a, dtype=np.float64)
                codes = []
                for j in range(m):
                    d = np.linalg.norm(
                        books[j] - x[j * sub : (j + 1) * sub], axis=1
                    )
                    codes.append(int(np.argmin(d)))
                return codes

            return v.map(enc)

        return encode

    # ------------------------------------------------------------- score
    def adc_lut(self, qvec: Sequence[float]) -> list[list[float]]:
        """Per-query lookup table: lut[m][c] = ||q_sub_m - codebook[m][c]||²
        (squared so the fold is additive; sqrt once at the end)."""
        q = np.asarray(list(qvec), dtype=np.float64)
        return [
            (
                np.linalg.norm(
                    self.codebooks[j] - q[j * self.sub_dim : (j + 1) * self.sub_dim],
                    axis=1,
                )
                ** 2
            ).tolist()
            for j in range(self.m)
        ]

    def adc_distance(self, codes: Column, qvec: Sequence[float]) -> Column:
        """Approximate L2 distance from stored codes — one fold over the
        subspace INDEX with a single flattened LUT literal (r13; guide
        §1.2/§5): ``sqrt(aggregate(sequence(0, m-1), 0.0,
        (acc, j) -> acc + flat_lut[codes[j+1] + j*k + 1]))``.

        Same terms in the same left-fold order with the same 0.0 seed as
        the r12 ``aggregate(zip_with(codes, lut2d, ...))`` spelling —
        values bit-identical (short/NULL code arrays yield NULL through
        element_at exactly as zip_with's null-padding did).  What
        changed is the machinery, A/B'd at sf0.1 (OPTIMIZATION_r13.md):
        the LUT literal builds in ONE py4j call (~280 F.lit round trips
        before), appears ONCE in the expression tree (a fully unrolled
        16-term sum duplicated the 256-literal array per term and paid
        +0.2 s of analysis), and no per-row picked-distance intermediate
        array is allocated.  Coarse stage: 1.01 s → 0.53 s."""
        from .distance import dlit_array

        flat = dlit_array(
            [v for row in self.adc_lut(qvec) for v in row]
        )
        k = self.k
        return F.sqrt(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(self.m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    flat, F.element_at(codes, j + 1) + j * k + 1
                ),
            )
        )


def pq_search(
    df_codes: DataFrame,
    books: PqCodebooks,
    qvec: Sequence[float],
    vec_col: str = "embedding",
    code_col: str = "pq_codes",
    k: int = 10,
    rerank: int = 100,
    id_col: str = "vec_id",
    vectors: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ search: coarse ADC top-``rerank`` (bounded heap over
    the 8-byte codes — the stage that scans the corpus touches ONLY
    compressed codes), then exact L2 rerank of the short list against
    the float vectors. At 100 TB the first stage reads ~3% of the bytes
    a float scan would.

    The coarse stage projects (id, codes) BEFORE ranking so column
    pruning drops the float vector from the wide scan (carrying it
    through the heap would read the full vectors and void the byte
    cut — pinned in test_plan_quality); the ``rerank`` survivors then
    join back to fetch their vectors, a k-row broadcast join.

    ``vectors`` (r13, guide §2.3): optional separate float-vector frame
    for the rerank stage.  When the caller's code frame needs a
    dedup shuffle first (IVF spill can assign a vector to several
    lists), passing the raw frame here and deduping only (id, codes)
    upstream keeps the shuffle ~30× narrower than dragging the float
    vectors through it; the rerank side dedups its ≤``rerank``-row
    join result instead."""
    from .distance import dlit_sql, l2_distance

    coarse = (
        df_codes.filter(F.col(code_col).isNotNull())
        .select(id_col, code_col)
        .withColumn("_adc", books.adc_distance(F.col(code_col), qvec))
        .orderBy(F.col("_adc").asc_nulls_last(), F.col(id_col).asc())
        .limit(rerank)
        .select(id_col)
    )
    if vectors is None:
        vecs = df_codes.select(id_col, vec_col)
        joined = vecs.join(F.broadcast(coarse), id_col)
    else:
        # duplicates of one vec_id are identical rows (same embedding),
        # so deduping AFTER the broadcast semi-join touches ≤ the
        # short-list×spill rows, never the corpus
        joined = (
            vectors.select(id_col, vec_col)
            .join(F.broadcast(coarse), id_col)
            .dropDuplicates([id_col])
        )
    return (
        joined.withColumn(
            "distance", l2_distance(as_double(vec_col), dlit_sql(qvec))
        )
        .orderBy(F.col("distance").asc_nulls_last(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )
