"""Vector layer — the datavec capability surface re-expressed for Spark.

The reference's `contrib/datavec` extension provides vector/halfvec/
sparsevec/bit types with L2, inner-product, cosine, L1, Hamming and
Jaccard distances plus IVFFlat/HNSW ANN indexes
(`/root/reference/contrib/datavec/README.md:1-9`). Here:

  distance.py    the 6 distances, each one SQL expression (JVM-side,
                 whole-stage-codegen'd; no Python UDFs on the hot path)
  arithmetic.py  vector add/sub/mul, norm, normalize, subvector, quantize
  types.py       halfvec round-trip, sparsevec struct, binary-vector words
  exact.py       exact top-k kNN and kNN join
  ivf.py         IVF ANN: KMeans centroids + partition-pruned probe search
"""
