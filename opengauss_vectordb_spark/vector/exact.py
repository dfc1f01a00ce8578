"""Exact k-NN: the ground-truth path.

The reference's recall harness computes ground truth with an exact scan
(`contrib/datavec/test/t/012_hnsw_vector_build_recall.pl:12-46`); datavec
recognizes `ORDER BY vec <op> 'const' LIMIT k` as the ANN query shape
(`contrib/datavec/sql/datavec--0.7.2.sql:353-403`). Here exact top-k is a
single scan + `TakeOrderedAndProject` (no full sort, no extra shuffle):
Spark turns orderBy+limit into a per-partition top-k heap merged on the
driver — the same bounded-heap strategy the reference uses for top-N sorts
(`utils/sort/tuplesort.cpp:7-48`), but distributed.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .distance import DISTANCES, as_double, query_distance


def knn(
    df: DataFrame,
    vec_col: str,
    qvec: Sequence[float],
    k: int = 10,
    metric: str = "l2",
    id_col: str | None = None,
    dist_alias: str = "distance",
) -> DataFrame:
    """Exact top-k rows nearest to ``qvec``.

    NULL vectors are excluded, matching the reference's index behavior
    (`test/sql/hnsw_vector.sql:10-17`: NULLs never surface in ANN results).
    Ties are broken by ``id_col`` for determinism.  ``metric`` is any
    of ``distance.METRICS``, hamming over packed bit words included.
    The filter and the distance are each one parsed SQL text, so the
    frame builds in a handful of py4j round trips.
    """
    dist = query_distance(metric, vec_col, qvec)
    out = df.filter(f"`{vec_col}` IS NOT NULL").withColumn(dist_alias, dist)
    # nulls_last guards the ordering even if a distance degenerates to
    # NULL (e.g. null array elements): default ASC is NULLS FIRST, which
    # would rank broken rows as nearest
    order = [F.col(dist_alias).asc_nulls_last()]
    if id_col:
        order.append(F.col(id_col).asc())
    return out.orderBy(*order).limit(k)


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    query_vec: str,
    cand_vec: str,
    k: int = 10,
    metric: str = "l2",
    query_id: str = "qid",
    cand_id: str = "cid",
    dist_alias: str = "distance",
) -> DataFrame:
    """Batch exact k-NN join: top-k candidates per query row.

    Implemented as broadcast(queries) × candidates → per-query top-k via
    window rank. At 100 TB the candidate side stays partitioned and never
    shuffles: each executor scores its partitions against the broadcast
    query set and the window aggregation reduces map-side. For huge query
    sets, chunk the query side or use the IVF path (ivf.py).
    """
    from pyspark.sql import Window as W

    q = queries.selectExpr(f"`{query_id}`", f"{as_double(query_vec)} AS _qv")
    c = candidates.filter(f"`{cand_vec}` IS NOT NULL").selectExpr(
        f"`{cand_id}`", f"{as_double(cand_vec)} AS _cv"
    )
    scored = c.crossJoin(F.broadcast(q)).withColumn(
        dist_alias, DISTANCES[metric]("_qv", "_cv")
    )
    w = W.partitionBy(query_id).orderBy(
        F.col(dist_alias).asc_nulls_last(), F.col(cand_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id, cand_id, dist_alias, "_rn")
    )
