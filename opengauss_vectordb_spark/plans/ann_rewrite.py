"""ANN query-shape routing — the engine-level analogue of datavec's
`ORDER BY vec <op> 'const' LIMIT k` index recognition
(`contrib/datavec/sql/datavec--0.7.2.sql:353-403`: the distance opclasses
are declared FOR ORDER BY so the planner turns that shape into an index
scan; cost gate in `ivfflat.cpp:72`).

Catalyst has no Python hook for injecting optimizer rules, so the
recognition lives one level up, where this engine builds plans.  IVF and
HNSW, the reference's two access methods, are one index AM of the shared
lifecycle (operators/index_lifecycle.py): AnnCatalog holds its
{index name: entry} registry, each entry recording its ``kind``
(``ivfflat`` or ``hnsw``) and the built index.  topk() is the one
dispatch of a top-k-by-distance request: the newest index on the column
whose metric matches the operator, else the exact scan.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index_lifecycle import AccessMethod
from ..vector.distance import query_distance
from ..vector.exact import knn as exact_knn
from ..vector.hnsw import DEFAULT_EF_SEARCH, HnswIndex
from ..vector.ivf import IvfIndex

AnnIndex = IvfIndex | HnswIndex


class AnnCatalog:
    """{index name: entry} registry of the ANN access method (the
    pg_index analogue, in the shape of ``gin_indexes``); registry
    order is creation order."""

    def __init__(self):
        self.indexes: dict[str, dict] = {}

    def register(self, table_name: str, vec_col: str, index: AnnIndex) -> None:
        """Catalog an index built outside an engine: it routes, but has
        no lifecycle (no directory of its own, no freshness)."""
        kind = "hnsw" if isinstance(index, HnswIndex) else "ivfflat"
        name = f"{table_name}_{vec_col}_{kind}"
        self.indexes.pop(name, None)
        self.indexes[name] = {"table": table_name, "col": vec_col,
                              "kind": kind, "index": index}

    def entry(self, table_name: str, vec_col: str,
              metric: str | None = None) -> tuple[str, dict] | None:
        """(name, entry) of the newest index on the column, of
        ``metric`` when one is given."""
        return next((
            (n, e) for n, e in reversed(self.indexes.items())
            if e["table"] == table_name and e["col"] == vec_col
            and metric in (None, e["index"].metric)
        ), None)

    def lookup(self, table_name: str, vec_col: str) -> AnnIndex | None:
        hit = self.entry(table_name, vec_col)
        return hit[1]["index"] if hit else None

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
        ef_search: int | None = DEFAULT_EF_SEARCH,
        where=None,
    ) -> DataFrame:
        """The ORDER BY distance LIMIT k entry point, with an optional
        ``where`` Column: the newest index on (table, column) whose
        metric matches serves it — mirroring how the reference's
        planner only uses an index whose opclass matches the ORDER BY
        operator — and the exact scan otherwise.  IVF applies ``where``
        inside its pruned scan (probes default to lists // 10).  HNSW
        fans the beam out per shard (probes ↔ ef_search is the knob
        split, as in datavec's GUCs; ``ef_search=None`` is the
        unbounded, exact beam) and picks candidate ids by graph
        distance: the k nearest, or under ``where`` the over-fetched
        candidates the filter prunes (at an unbounded beam, the exact
        filtered top k of ``search_filtered``).  One join-back then
        reads the candidates' rows from ``df`` and ranks them by the
        metric's distance kernel, so the routed result carries the
        same columns and distances as the IVF and exact paths."""
        hit = self.entry(table_name, vec_col, metric)
        if hit is None:
            base = df if where is None else df.filter(where)
            return exact_knn(base, vec_col, qvec, k=k, metric=metric,
                             id_col=id_col)
        idx = hit[1]["index"]
        if hit[1]["kind"] == "ivfflat":
            return idx.search(
                spark, qvec, vec_col, k=k,
                probes=probes if probes is not None else max(1, idx.lists // 10),
                id_col=id_col, where=where,
            )
        if id_col is None:
            raise ValueError("HNSW routing needs id_col to join back")
        if where is None:
            hits = idx.search(spark, qvec, k=k, ef_search=ef_search)
        elif ef_search is None:
            hits = idx.search_filtered(
                spark, df, id_col, where, qvec, k=k, ef_search=None,
            ).select(F.col(id_col).alias("id"))
        else:
            # the over-fetched ids are collected, so the filter runs in
            # the join-back's scan: no broadcast of the hits
            hits = idx.filter_candidates(spark, qvec, k, ef_search)
        ids = [r.id for r in hits.collect()]
        rows = df.filter(f"`{id_col}` IN ({','.join(map(str, ids))})"
                         if ids else "FALSE")
        if where is not None:
            rows = rows.filter(where)
        # the limit makes the sort a TakeOrderedAndProject (one
        # job); a bare orderBy plans a range-partitioned full sort
        return (
            rows.withColumn("distance", query_distance(metric, vec_col, qvec))
            .orderBy(F.col("distance").asc(), F.col(id_col).asc())
            .limit(k)
        )


class _Ann(AccessMethod):
    """IVF and HNSW in the shared lifecycle: an entry's ``kind`` picks
    the index class and ``params`` its build options.  The layout is
    the index itself, built from the whole relation; appends go into
    it in place, so no delta layer is ever written."""

    subdir = "_ann"

    def indexes(self, engine) -> dict:
        return engine.ann.indexes

    def key_frame(self, idx, df) -> DataFrame:
        return df

    def build_base(self, engine, idx, keys, path) -> int:
        build = HnswIndex.build if idx["kind"] == "hnsw" else IvfIndex.build
        idx["index"] = build(keys, idx["col"], path, **idx["params"])
        # base_rows only bounds delta compaction, which never runs here
        return 0

    def append(self, engine, idx, rows, csn, n_files) -> None:
        index = idx["index"]
        if idx["kind"] == "hnsw":
            index.append(engine.spark, rows, idx["col"], index.id_col)
        else:
            from ..vector.maintenance import append_to_index

            append_to_index(engine.spark, index, rows, idx["col"])

    def describe(self, idx) -> tuple[str, str]:
        return idx["col"], type(idx["index"]).__name__


AM = _Ann()
