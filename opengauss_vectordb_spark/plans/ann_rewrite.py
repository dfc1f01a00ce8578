"""ANN query-shape routing — the engine-level analogue of datavec's
`ORDER BY vec <op> 'const' LIMIT k` index recognition
(`contrib/datavec/sql/datavec--0.7.2.sql:353-403`: the distance opclasses
are declared FOR ORDER BY so the planner turns that shape into an index
scan; cost gate in `ivfflat.cpp:72`).

Catalyst has no Python hook for injecting optimizer rules, so the
recognition lives one level up, where this engine builds plans: an
AnnCatalog maps (table_name, vector_column) → index (IVF or HNSW, the
reference's two access methods), and topk() routes a top-k-by-distance
request through the index path when one with a matching opclass/metric
exists (and the probe is estimated cheaper), else the exact scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..vector.exact import knn as exact_knn
from ..vector.hnsw import HnswIndex
from ..vector.ivf import IvfIndex

AnnIndex = IvfIndex | HnswIndex


class AnnCatalog:
    """(table, column) → IvfIndex | HnswIndex registry (pg_index
    analogue — both of datavec's access methods route)."""

    def __init__(self):
        self._indexes: dict[tuple[str, str], AnnIndex] = {}

    def register(self, table_name: str, vec_col: str, index: AnnIndex) -> None:
        self._indexes[(table_name, vec_col)] = index

    def drop(self, table_name: str, vec_col: str) -> None:
        self._indexes.pop((table_name, vec_col), None)

    def lookup(self, table_name: str, vec_col: str) -> AnnIndex | None:
        return self._indexes.get((table_name, vec_col))

    def topk(
        self,
        spark: SparkSession,
        table_name: str,
        df: DataFrame,
        vec_col: str,
        qvec: Sequence[float],
        k: int,
        metric: str = "l2",
        probes: int | None = None,
        id_col: str | None = None,
        ef_search: int | None = None,
    ) -> DataFrame:
        """The ORDER BY distance LIMIT k entry point: the registered
        index path when one on (table, column) with a matching metric
        exists, exact top-k otherwise — mirroring how the reference's
        planner only uses an index whose opclass matches the ORDER BY
        operator. An HNSW hit fans the beam out per shard
        (probes ↔ ef_search is the knob split, as in datavec's GUCs)
        and joins ids back to the table so the routed result carries
        the same columns as the IVF/exact paths."""
        idx = self.lookup(table_name, vec_col)
        if isinstance(idx, HnswIndex) and idx.metric == metric:
            from ..vector.distance import DISTANCES, as_double
            from ..vector.hnsw import DEFAULT_EF_SEARCH

            if id_col is None:
                raise ValueError("HNSW routing needs id_col to join back")
            hits = idx.search(
                spark, qvec, k=k,
                ef_search=ef_search if ef_search is not None
                else DEFAULT_EF_SEARCH,
            )
            ids = [r.id for r in hits.collect()]
            qlit = F.array(*[F.lit(float(v)) for v in qvec])
            dist = DISTANCES[metric](as_double(F.col(vec_col)), qlit)
            # the limit makes the sort a TakeOrderedAndProject (one
            # job); a bare orderBy plans a range-partitioned full sort
            return (
                df.filter(F.col(id_col).isin(ids))
                .withColumn("distance", dist)
                .orderBy(F.col("distance").asc(), F.col(id_col).asc())
                .limit(k)
            )
        if idx is not None and idx.metric == metric:
            return idx.search(
                spark,
                qvec,
                vec_col,
                k=k,
                probes=probes if probes is not None else max(1, idx.lists // 10),
                id_col=id_col,
            )
        return exact_knn(df, vec_col, qvec, k=k, metric=metric, id_col=id_col)
