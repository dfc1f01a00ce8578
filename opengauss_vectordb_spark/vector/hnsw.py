"""HNSW approximate nearest neighbor — the Spark-native rebuild of
`contrib/datavec/src/hnswbuild.cpp` / `hnswutils.cpp` / `hnswscan.cpp`.

Reference semantics (what, not how):
  * build: multi-layer small-world graph; params ``m``=16 (max 100),
    ``ef_construction``=64 (`hnsw.h:33-36`); insert = greedy descent
    through upper layers, then beam search with ef_construction and
    neighbor selection by the pruning heuristic
    (`hnswutils.cpp:1207` HnswFindElementNeighbors, `:958`
    SelectNeighbors, `:724` HnswSearchLayer); parallel build workers
    (`hnswbuild.cpp`, test t/012:98-104).
  * search: greedy descent from the entry point, beam width
    ``hnsw.ef_search``=40 (`hnsw.h:39`); supports all four float-vector
    opclasses incl. vector_l1_ops, which IVFFlat does not
    (`datavec--0.7.2.sql:362-403`).
  * quality bar (BASELINE.md): recall@20 ≥ 0.99 (L2/cosine/L1) and
    ≥ 0.97 (inner product) on 10k uniform 3-d vectors at the defaults
    (`test/t/012_hnsw_vector_build_recall.pl:92-94`).
  * dimension cap 2000 (`hnsw.h:12`).

Spark-first design — a SHARDED HNSW, because one giant pointer-chasing
graph does not distribute (SURVEY.md §2.8):
  * the corpus is hash-split into ``shards`` independent sub-graphs;
    each shard's graph is built inside one ``applyInPandas`` task (the
    distributed analogue of the reference's parallel build workers —
    shard builds share nothing and scale out linearly).
  * the graph is stored as a plain parquet table partitioned by shard:
    one row per node with its per-layer adjacency lists. No custom
    storage format, no mutable index pages — rebuild/append follow the
    same batch maintenance story as IVF (`vector/maintenance.py`).
  * search drives one beam search per shard from a frame of the S
    shard ids (``mapInArrow``, no Exchange): each task reads its
    shards' parquet with pyarrow and keeps the deserialized graph in a
    cache of the Python worker, keyed on the shard's file listing, so
    the graph table never moves and a warm search reads nothing.  The
    per-shard top-k's merge in a global TakeOrdered — searching S graphs
    of n/S nodes each returns the union of S beams, which empirically
    dominates the recall of a single graph at equal ef_search.
  * determinism: node levels are derived from md5(id) (append-stable,
    insertion-order independent), inserts happen in ascending-id order,
    and every heap tie breaks on (distance, id) — the same graph comes
    out no matter how Spark ordered the rows.
  * exactness escape hatch: after building each shard, layer 0 is
    connectivity-repaired (any node BFS-unreachable from the entry
    point gains one bidirectional edge to its nearest reachable node —
    the explicit guarantee of what HnswFindElementNeighbors achieves in
    practice).  A beam of ``ef_search >= shard size`` therefore visits
    EVERY node, so the search is exact by construction — that is the
    gateable configuration (`hnsw_search_exhaustive`), mirroring the
    probes=lists trick the IVF gates use.

The in-task graph algorithm is implemented from the public HNSW paper
(Malkov & Yashunin 2016, arXiv:1603.09320) in NumPy; build runs once per
shard at ingest (Arrow batch in, Arrow batch out) and the per-row search
path stays vectorized — no Python in any per-row hot loop outside the
bounded beam frontier.
"""

from __future__ import annotations

import hashlib
import heapq
import math
import os
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .distance import METRICS

DEFAULT_M = 16  # hnsw.h:33
MAX_M = 100  # hnsw.h:34
DEFAULT_EF_CONSTRUCTION = 64  # hnsw.h:35
DEFAULT_EF_SEARCH = 40  # hnsw.h:39
MAX_INDEX_DIM = 2000  # hnsw.h:12

# Upper-layer descent beam width. The paper (and hnswscan.cpp) descend
# the upper layers greedily with ef=1; on strongly clustered corpora
# with wide inter-cluster gaps that greedy walk can trap in the wrong
# cluster's local minimum (measured: recall@20 0.905 flat in ef on a
# 128-d 40-cluster corpus, BECAUSE the misses are entry failures, not
# beam-width failures). A small beam through the upper layers fixes the
# entry point at negligible cost (upper layers hold ~n/m nodes) and is
# applied to BOTH insert (better wiring) and search: 0.905 → 0.995 on
# the same corpus. ef=1 recovers the paper's exact descent.
DEFAULT_DESCENT_EF = 8

GRAPH_SCHEMA = (
    "shard INT, id BIGINT, vec ARRAY<DOUBLE>, level INT, "
    "neighbors ARRAY<ARRAY<BIGINT>>"
)
_ARROW_TYPES = {"INT": "int32", "BIGINT": "int64", "DOUBLE": "float64"}


def _level_for_id(node_id: int, m: int) -> int:
    """Geometric level draw floor(-ln(u)·mL), mL = 1/ln(m) (paper §4.1;
    hnswutils.cpp draws the same distribution) — but seeded from
    md5(id) so the level is a pure function of the node id:
    append-stable and independent of Spark's row order."""
    h = hashlib.md5(str(int(node_id)).encode()).digest()
    u = (int.from_bytes(h[:8], "big") + 0.5) / 2.0**64
    return int(-math.log(u) * (1.0 / math.log(m)))


def _dist_many(metric: str, X: np.ndarray, norms: np.ndarray,
               idxs: np.ndarray, q: np.ndarray, qnorm: float) -> np.ndarray:
    """Distance from q to X[idxs] — one vectorized call per beam
    expansion, never a per-element Python loop."""
    V = X[idxs]
    if metric == "l2":
        d = V - q
        return np.sqrt((d * d).sum(axis=1))
    if metric == "ip":
        return -(V @ q)
    if metric == "cosine":
        denom = norms[idxs] * qnorm
        with np.errstate(divide="ignore", invalid="ignore"):
            out = 1.0 - (V @ q) / denom
        return np.where(denom == 0.0, np.inf, out)
    if metric == "l1":
        return np.abs(V - q).sum(axis=1)
    if metric == "hamming":
        # binary vectors ride as integral word values (exact in double up
        # to 2^53; the engine packs 32 bits/word): XOR then popcount via
        # unpackbits — the bit_vector hnsw opclass (datavec bitvec.cpp)
        x = np.bitwise_xor(
            V.astype(np.int64), q.astype(np.int64)
        ).astype(np.uint64)
        bytes_view = np.ascontiguousarray(x).view(np.uint8)
        return (
            np.unpackbits(bytes_view.reshape(len(V), -1), axis=1)
            .sum(axis=1)
            .astype(np.float64)
        )
    raise ValueError(f"unknown metric {metric}")


class _ShardGraph:
    """One shard's in-memory HNSW graph (build- and search-side)."""

    def __init__(self, X: np.ndarray, ids: np.ndarray, metric: str):
        self.X = X
        self.ids = ids
        self.metric = metric
        self.norms = np.sqrt((X * X).sum(axis=1))
        self.n = len(X)
        self.levels = np.zeros(self.n, dtype=np.int64)
        # neighbors[node][layer] -> list of node indexes
        self.neighbors: list[list[list[int]]] = []
        self.entry = -1
        self.max_level = -1

    # ------------------------------------------------------------- core
    def _d(self, q: np.ndarray, idxs) -> np.ndarray:
        idxs = np.asarray(idxs, dtype=np.int64)
        qn = float(np.sqrt((q * q).sum()))
        return _dist_many(self.metric, self.X, self.norms, idxs, q, qn)

    def _search_layer(self, q: np.ndarray, eps: list[tuple[float, int]],
                      ef: int, layer: int) -> list[tuple[float, int]]:
        """Beam search at one layer (HnswSearchLayer, hnswutils.cpp:724):
        min-heap of candidates, bounded max-heap of results, visited set.
        Ties break on node id so the frontier is deterministic."""
        visited = {i for _, i in eps}
        cand = [(d, i) for d, i in eps]  # min-heap on (dist, idx)
        heapq.heapify(cand)
        result = [(-d, i) for d, i in eps]  # max-heap via negation
        heapq.heapify(result)
        while len(result) > ef:
            heapq.heappop(result)
        while cand:
            d, c = heapq.heappop(cand)
            if len(result) >= ef and d > -result[0][0]:
                break
            neigh = [x for x in self.neighbors[c][layer] if x not in visited]
            if not neigh:
                continue
            visited.update(neigh)
            dists = self._d(q, neigh)
            order = np.lexsort((np.asarray(neigh), dists))
            for j in order:
                dj, nj = float(dists[j]), int(neigh[j])
                if len(result) < ef or dj < -result[0][0]:
                    heapq.heappush(cand, (dj, nj))
                    heapq.heappush(result, (-dj, nj))
                    if len(result) > ef:
                        heapq.heappop(result)
        out = [(-nd, i) for nd, i in result]
        out.sort(key=lambda t: (t[0], t[1]))
        return out

    def _select_neighbors(self, q_idx: int, cands: list[tuple[float, int]],
                          m: int) -> list[int]:
        """The pruning heuristic (SelectNeighbors, hnswutils.cpp:958;
        paper alg. 4 with keepPrunedConnections): keep c only if it is
        closer to q than to every already-selected neighbor — spreads
        edges across directions — then refill from the pruned pool."""
        selected: list[int] = []
        pruned: list[int] = []
        for d, c in sorted(cands, key=lambda t: (t[0], t[1])):
            if c == q_idx:
                continue
            if len(selected) >= m:
                break
            ok = True
            if selected:
                dc = self._d(self.X[c], selected)
                if (dc < d).any():
                    ok = False
            (selected if ok else pruned).append(c)
        for c in pruned:
            if len(selected) >= m:
                break
            selected.append(c)
        return selected

    # ------------------------------------------------------------ build
    def _insert_point(self, i: int, m: int, ef_construction: int,
                      descent_ef: int) -> None:
        """Insert node i (levels[i]/neighbors[i] already sized) — the
        shared body of initial build and incremental append
        (HnswFindElementNeighbors, hnswutils.cpp:1207)."""
        m_max0 = 2 * m
        lvl = int(self.levels[i])
        if self.entry < 0:
            self.entry, self.max_level = i, lvl
            return
        q = self.X[i]
        ep = [(float(self._d(q, [self.entry])[0]), self.entry)]
        for lc in range(self.max_level, lvl, -1):
            ep = self._search_layer(q, ep, descent_ef, lc)
        for lc in range(min(lvl, self.max_level), -1, -1):
            w = self._search_layer(q, ep, ef_construction, lc)
            cap = m_max0 if lc == 0 else m
            chosen = self._select_neighbors(i, w, m)
            self.neighbors[i][lc] = list(chosen)
            for c in chosen:
                lst = self.neighbors[c][lc]
                lst.append(i)
                if len(lst) > cap:
                    dists = self._d(self.X[c], lst)
                    pairs = [(float(dists[j]), int(lst[j]))
                             for j in range(len(lst))]
                    self.neighbors[c][lc] = self._select_neighbors(
                        c, pairs, cap
                    )
            ep = w
        if lvl > self.max_level:
            self.entry, self.max_level = i, lvl

    def build(self, m: int, ef_construction: int,
              descent_ef: int = DEFAULT_DESCENT_EF) -> None:
        for i in range(self.n):
            lvl = _level_for_id(int(self.ids[i]), m)
            self.levels[i] = lvl
            self.neighbors.append([[] for _ in range(lvl + 1)])
            self._insert_point(i, m, ef_construction, descent_ef)
        self._repair_layer0(2 * m)

    def insert_batch(self, X_new: np.ndarray, ids_new: np.ndarray, m: int,
                     ef_construction: int,
                     descent_ef: int = DEFAULT_DESCENT_EF) -> None:
        """Incremental insert into an existing graph — the batch form of
        hnswinsert.cpp: new nodes run the same descend-search-connect
        path against the current graph (in ascending-id order, levels
        still md5-derived), then layer 0 is re-repaired. An appended
        graph is not byte-identical to a fresh rebuild (insertion order
        differs — true of the reference's insert path too); correctness
        comes from the same connectivity invariant."""
        k = len(ids_new)
        if k == 0:
            return
        self.X = np.concatenate([self.X, X_new]) if self.n else X_new
        self.ids = np.concatenate([self.ids, ids_new]) if self.n else ids_new
        self.norms = np.sqrt((self.X * self.X).sum(axis=1))
        order = np.argsort(ids_new, kind="stable")
        base = self.n
        self.n += k
        self.levels = np.concatenate(
            [self.levels, np.zeros(k, dtype=np.int64)]
        )
        # neighbor rows line up with node POSITION; insertion happens in
        # ascending-id order
        for j in range(k):
            i = base + j
            self.levels[i] = _level_for_id(int(self.ids[i]), m)
            self.neighbors.append(
                [[] for _ in range(int(self.levels[i]) + 1)]
            )
        for j in order:
            self._insert_point(base + int(j), m, ef_construction, descent_ef)
        self._repair_layer0(2 * m)

    def _repair_layer0(self, cap: int) -> None:
        """Guarantee layer-0 connectivity: BFS from the entry point; any
        unreachable node gets one bidirectional edge to its nearest
        reachable node.  Rarely fires (the insert path keeps the graph
        connected in practice) but turns ``ef >= n ⇒ visits every node``
        from an observation into an invariant — which is what makes the
        exhaustive gate configuration exact by construction."""
        if self.n == 0:
            return
        seen = np.zeros(self.n, dtype=bool)
        stack = [self.entry]
        seen[self.entry] = True
        while stack:
            c = stack.pop()
            for nb in self.neighbors[c][0]:
                if not seen[nb]:
                    seen[nb] = True
                    stack.append(nb)
        while not seen.all():
            orphan_idxs = np.flatnonzero(~seen)
            reach_idxs = np.flatnonzero(seen)
            # connect the single closest (orphan, reachable) pair, then
            # re-flood from the newly attached orphan
            best = (np.inf, -1, -1)
            for o in orphan_idxs:
                d = self._d(self.X[o], reach_idxs)
                j = int(np.lexsort((reach_idxs, d))[0])
                if (float(d[j]), int(o)) < (best[0], best[1]):
                    best = (float(d[j]), int(o), int(reach_idxs[j]))
            _, o, r = best
            self.neighbors[o][0].append(r)
            self.neighbors[r][0].append(o)
            stack = [o]
            seen[o] = True
            while stack:
                c = stack.pop()
                for nb in self.neighbors[c][0]:
                    if not seen[nb]:
                        seen[nb] = True
                        stack.append(nb)

    def remove(self, drop_ids: set[int]) -> None:
        """Unlink nodes (hnswvacuum.cpp: dead tuples leave every
        neighbor list, the entry point moves if it died, layer-0
        connectivity is repaired afterward — the same sequence, batch
        form)."""
        keep = np.array([int(i) not in drop_ids for i in self.ids])
        if keep.all():
            return
        old_to_new = -np.ones(self.n, dtype=np.int64)
        old_to_new[np.flatnonzero(keep)] = np.arange(int(keep.sum()))
        self.X = self.X[keep]
        self.ids = self.ids[keep]
        self.norms = self.norms[keep]
        self.levels = self.levels[keep]
        self.neighbors = [
            [
                [int(old_to_new[nb]) for nb in layer if keep[nb]]
                for layer in layers
            ]
            for i, layers in enumerate(self.neighbors)
            if keep[i]
        ]
        self.n = len(self.ids)
        if self.n == 0:
            self.entry, self.max_level = -1, -1
            return
        self.max_level = int(self.levels.max())
        top = np.flatnonzero(self.levels == self.max_level)
        self.entry = int(top[np.argmin(self.ids[top])])
        self._repair_layer0(2 * DEFAULT_M)

    # ----------------------------------------------------------- search
    def search(self, q: np.ndarray, k: int, ef: int,
               descent_ef: int = DEFAULT_DESCENT_EF) -> list[tuple[int, float]]:
        if self.n == 0:
            return []
        ep = [(float(self._d(q, [self.entry])[0]), self.entry)]
        for lc in range(self.max_level, 0, -1):
            ep = self._search_layer(q, ep, descent_ef, lc)
        w = self._search_layer(q, ep, max(ef, k), 0)
        return [(int(self.ids[i]), d) for d, i in w[:k]]


def _graph_from_rows(pdf: pd.DataFrame, metric: str) -> _ShardGraph:
    pdf = pdf.sort_values("id").reset_index(drop=True)
    X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["vec"]])
    g = _ShardGraph(X, pdf["id"].to_numpy(np.int64), metric)
    g.levels = pdf["level"].to_numpy(np.int64)
    g.neighbors = []
    id_to_idx = {int(i): j for j, i in enumerate(g.ids)}
    for layers in pdf["neighbors"]:
        g.neighbors.append(
            [[id_to_idx[int(x)] for x in layer] for layer in layers]
        )
    g.max_level = int(g.levels.max())
    top = np.flatnonzero(g.levels == g.max_level)
    g.entry = int(top[np.argmin(g.ids[top])])
    return g


# Worker-process cache of deserialized shard graphs (Python workers are
# reused across tasks): shard directory -> (metric, file listing, graph).
# Build, append and vacuum_delete always write new part files, so a
# listing of (name, size, mtime_ns) names one graph; no index object or
# Engine has to announce a change.
_SHARD_GRAPHS: dict[str, tuple[str, tuple, _ShardGraph]] = {}


def _shard_files(shard_dir: str) -> tuple:
    """(name, size, mtime_ns) of the shard's data files; () when the
    directory is missing or holds none."""
    try:
        names = sorted(os.listdir(shard_dir))
    except FileNotFoundError:
        return ()
    out = []
    for name in names:
        if name.startswith((".", "_")):  # checksums, _SUCCESS
            continue
        st = os.stat(os.path.join(shard_dir, name))
        out.append((name, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _load_shard(shard_dir: str, metric: str) -> _ShardGraph | None:
    """The shard's graph, from the cache while its files are unchanged,
    else read with pyarrow and cached; None for a missing or empty
    shard.  Keeps one entry per directory and drops the entries of
    directories that no longer exist."""
    import pyarrow.parquet as pq

    for gone in [d for d in _SHARD_GRAPHS if not os.path.isdir(d)]:
        del _SHARD_GRAPHS[gone]
    files = _shard_files(shard_dir)
    hit = _SHARD_GRAPHS.get(shard_dir)
    if hit is not None and hit[:2] == (metric, files):
        return hit[2]
    _SHARD_GRAPHS.pop(shard_dir, None)
    if not files:
        return None
    table = pq.read_table(
        [os.path.join(shard_dir, name) for name, _, _ in files],
        columns=["id", "vec", "level", "neighbors"],
    )
    g = _graph_from_rows(table.to_pandas(), metric)
    _SHARD_GRAPHS[shard_dir] = (metric, files, g)
    return g


class HnswIndex:
    """A sharded HNSW index = parquet graph table partitioned by shard."""

    def __init__(self, path: str, metric: str = "l2", m: int = DEFAULT_M,
                 ef_construction: int = DEFAULT_EF_CONSTRUCTION,
                 shards: int = 8):
        if metric not in METRICS:
            raise ValueError(f"metric must be one of {tuple(METRICS)}")
        if not 2 <= m <= MAX_M:
            raise ValueError(f"m must be in [2, {MAX_M}] (hnsw.h:34)")
        self.path = path
        self.metric = metric
        self.m = m
        self.ef_construction = ef_construction
        self.shards = shards

    # ---------------------------------------------------------------- build
    @staticmethod
    def build(df: DataFrame, vec_col: str, path: str, id_col: str,
              metric: str = "l2", m: int = DEFAULT_M,
              ef_construction: int = DEFAULT_EF_CONSTRUCTION,
              shards: int = 8) -> "HnswIndex":
        idx = HnswIndex(path, metric=metric, m=m,
                        ef_construction=ef_construction, shards=shards)
        # remembered so appends to the index shard new rows by the
        # same row-identity column
        idx.id_col = id_col
        clean = df.filter(F.col(vec_col).isNotNull())
        first = clean.select(F.size(F.col(vec_col)).alias("d")).first()
        if first is not None and first.d > MAX_INDEX_DIM:
            raise ValueError(
                f"cannot index {first.d}-d vectors: dimension cap is "
                f"{MAX_INDEX_DIM} (hnsw.h:12)"
            )

        src = clean.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards))
            .cast("int").alias("shard"),
            F.col(id_col).cast("bigint").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )

        met, mm, efc = metric, m, ef_construction

        def build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("id").reset_index(drop=True)
            X = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["vec"]])
            g = _ShardGraph(X, pdf["id"].to_numpy(np.int64), met)
            g.build(mm, efc)
            return pd.DataFrame({
                "shard": pdf["shard"],
                "id": pdf["id"],
                "vec": pdf["vec"],
                "level": g.levels,
                "neighbors": [
                    [[int(g.ids[x]) for x in layer] for layer in layers]
                    for layers in g.neighbors
                ],
            })

        graph = src.repartition(shards, "shard").groupBy("shard").applyInPandas(
            build_shard, GRAPH_SCHEMA
        )
        graph.write.mode("overwrite").partitionBy("shard").parquet(
            os.path.join(path, "graph")
        )
        idx._graph_changed()
        return idx

    # ---------------------------------------------------------------- load
    def graph(self, spark: SparkSession) -> DataFrame:
        """The graph table, as a memoized lazy handle, for append and
        vacuum_delete (search reads the shard files in its tasks);
        build, append and vacuum_delete drop it after they rewrite the
        layout."""
        from ..catalog import parquet_handle

        return parquet_handle(spark, os.path.join(self.path, "graph"))

    def _graph_changed(self) -> None:
        from ..catalog import invalidate_table_cache

        invalidate_table_cache(os.path.join(self.path, "graph"))

    # --------------------------------------------------------------- append
    def append(self, spark: SparkSession, new_rows: DataFrame, vec_col: str,
               id_col: str) -> None:
        """Insert-path maintenance (hnswinsert.cpp batch analogue): hash
        the new rows to their shards, cogroup each AFFECTED shard's
        stored graph with its delta, run the incremental insert inside
        one applyInPandas task per shard, and rewrite ONLY those shard
        partitions (dynamic partition overwrite). Untouched shards are
        neither read nor written, so a small delta costs O(|delta| +
        affected-shard sizes), never a full rebuild — the same
        steady-state shape as the IVF append path."""
        src = new_rows.filter(F.col(vec_col).isNotNull()).select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.shards))
            .cast("int").alias("shard"),
            F.col(id_col).cast("bigint").alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        affected = [r.shard for r in src.select("shard").distinct().collect()]
        if not affected:
            return
        existing = self.graph(spark).filter(F.col("shard").isin(affected))
        met, mm, efc = self.metric, self.m, self.ef_construction

        # delta rows ride the graph schema with level = -1 as the "not
        # yet inserted" marker (real levels are >= 0), so one
        # groupBy+applyInPandas merges both inputs — same executor path
        # as build/search (a cogroup would also fit, but its Arrow
        # stream segfaults the worker on this nested-array schema)
        pseudo = src.select(
            "shard", "id", "vec",
            F.lit(-1).cast("int").alias("level"),
            F.lit(None).cast("array<array<bigint>>").alias("neighbors"),
        )
        both = existing.unionByName(pseudo)

        def merge(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_val = int(pdf["shard"].iloc[0])
            old = pdf[pdf["level"] >= 0]
            new = pdf[pdf["level"] < 0].sort_values("id").reset_index(
                drop=True
            )
            if len(old) == 0:
                # first rows ever hashed to this shard: fresh build
                X = np.array([np.asarray(v, dtype=np.float64)
                              for v in new["vec"]])
                g = _ShardGraph(X, new["id"].to_numpy(np.int64), met)
                g.build(mm, efc)
            else:
                g = _graph_from_rows(old, met)
                if len(new):
                    X_new = np.array([np.asarray(v, dtype=np.float64)
                                      for v in new["vec"]])
                    g.insert_batch(
                        X_new, new["id"].to_numpy(np.int64), mm, efc
                    )
            return pd.DataFrame({
                "shard": [shard_val] * g.n,
                "id": g.ids,
                "vec": [list(v) for v in g.X],
                "level": g.levels,
                "neighbors": [
                    [[int(g.ids[x]) for x in layer] for layer in layers]
                    for layers in g.neighbors
                ],
            })

        merged = both.groupBy("shard").applyInPandas(merge, GRAPH_SCHEMA)
        # the merged frame READS the partitions it replaces, so it must
        # not overwrite them in the same job (self-overwrite corrupts
        # the scan): stage the affected shards, then swap each partition
        # directory in with the compact() staged-rename discipline.
        # LOCAL-FILESYSTEM rename, as documented there.
        import shutil

        graph_dir = os.path.join(self.path, "graph")
        staging = graph_dir + ".append"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        merged.write.mode("overwrite").partitionBy("shard").parquet(staging)
        for s in affected:
            src_part = os.path.join(staging, f"shard={s}")
            dst_part = os.path.join(graph_dir, f"shard={s}")
            old = dst_part + ".old"
            if os.path.exists(old):
                shutil.rmtree(old)
            if os.path.exists(dst_part):
                os.rename(dst_part, old)
            os.rename(src_part, dst_part)
            if os.path.exists(old):
                shutil.rmtree(old)
        shutil.rmtree(staging, ignore_errors=True)
        self._graph_changed()

    # --------------------------------------------------------------- search
    def _per_shard(self, spark: SparkSession, search_graph, schema: str
                   ) -> DataFrame:
        """One row per hit of ``search_graph(graph)`` over every shard,
        from a frame of the S shard ids (``mapInArrow``, no Exchange):
        each task beam-searches its shards' graphs out of the worker's
        cache (``_load_shard``), so the graph table never moves."""
        import pyarrow as pa

        graph_dir = os.path.abspath(os.path.join(self.path, "graph"))
        met = self.metric
        out_schema = pa.schema([
            (name, _ARROW_TYPES[t])
            for name, t in (f.split() for f in schema.split(","))
        ])

        def run(batches):
            for batch in batches:
                for s in batch.column(0).to_pylist():
                    g = _load_shard(os.path.join(graph_dir, f"shard={s}"), met)
                    if g is not None:
                        yield pa.RecordBatch.from_pylist(
                            search_graph(g), schema=out_schema
                        )

        n_tasks = min(self.shards, spark.sparkContext.defaultParallelism)
        return spark.range(0, self.shards, 1, n_tasks).mapInArrow(run, schema)

    def search(self, spark: SparkSession, qvec: Sequence[float], k: int = 10,
               ef_search: int | None = DEFAULT_EF_SEARCH) -> DataFrame:
        """Fan a beam search out to every shard graph, merge the shard
        top-k's with a global TakeOrdered.  ``ef_search=None`` means an
        unbounded beam: with the layer-0 connectivity repair the beam
        then visits every node, so the result is EXACT — the gateable
        operating point (cf. IVF probes=lists)."""
        return (
            self._shard_hits(spark, qvec, k, ef_search)
            .orderBy(F.col("distance").asc(), F.col("id").asc())
            .limit(k)
        )

    def _shard_hits(self, spark: SparkSession, qvec: Sequence[float],
                    k: int, ef_search: int | None) -> DataFrame:
        """(id, distance) of every shard's own top k, unmerged."""
        q = np.asarray(list(qvec), dtype=np.float64)

        def search_graph(g: _ShardGraph) -> list[dict]:
            beam = g.n if ef_search is None else ef_search
            return [{"id": i, "distance": d} for i, d in g.search(q, k, beam)]

        return self._per_shard(spark, search_graph,
                               "id BIGINT, distance DOUBLE")

    def vacuum_delete(self, spark: SparkSession, predicate) -> None:
        """Vacuum / bulk-delete (hnswvacuum.cpp): physically remove
        every graph node matching ``predicate`` (a Column over the
        graph schema — shard/id/vec/level), unlink it from every
        neighbor list, move the entry point if it died, and re-repair
        layer-0 connectivity — per shard, inside one applyInPandas
        pass, rewriting only the shards that contained matches."""
        g = self.graph(spark)
        affected = [
            r.shard
            for r in g.filter(predicate).select("shard").distinct().collect()
        ]
        if not affected:
            return
        existing = g.filter(F.col("shard").isin(affected))
        marked = existing.withColumn("_drop", predicate)
        met = self.metric

        def vacuum(pdf: pd.DataFrame) -> pd.DataFrame:
            shard_val = int(pdf["shard"].iloc[0])
            drop_ids = {int(i) for i in pdf.loc[pdf["_drop"], "id"]}
            gr = _graph_from_rows(pdf.drop(columns=["_drop"]), met)
            gr.remove(drop_ids)
            return pd.DataFrame({
                "shard": [shard_val] * gr.n,
                "id": gr.ids,
                "vec": [list(v) for v in gr.X],
                "level": gr.levels,
                "neighbors": [
                    [[int(gr.ids[x]) for x in layer] for layer in layers]
                    for layers in gr.neighbors
                ],
            })

        merged = marked.groupBy("shard").applyInPandas(vacuum, GRAPH_SCHEMA)
        import shutil

        graph_dir = os.path.join(self.path, "graph")
        staging = graph_dir + ".vacuum"
        if os.path.exists(staging):
            shutil.rmtree(staging)
        merged.write.mode("overwrite").partitionBy("shard").parquet(staging)
        for s in affected:
            src_part = os.path.join(staging, f"shard={s}")
            dst_part = os.path.join(graph_dir, f"shard={s}")
            old = dst_part + ".old"
            if os.path.exists(old):
                shutil.rmtree(old)
            os.rename(dst_part, old)
            if os.path.exists(src_part):
                os.rename(src_part, dst_part)
            else:
                os.makedirs(dst_part)  # every node in the shard died
            shutil.rmtree(old)
        shutil.rmtree(staging, ignore_errors=True)
        self._graph_changed()

    def filter_candidates(self, spark: SparkSession, qvec: Sequence[float],
                          k: int, ef_search: int | None,
                          overfetch: int = 4) -> DataFrame:
        """(id, distance) of the hits a post-filter keeps ``k`` of,
        ranked by the graph: the nearest k·overfetch at a beam at least
        that wide, or under ``ef_search=None`` every shard's FULL
        ranking, so the post-filter can never run out of candidates —
        exact at any selectivity (gate configuration, not a scale
        pattern).  The full rankings are read as they come: no global
        sort of every node's distance (range-partitioning Exchange plus
        Sort) runs before the filter."""
        if ef_search is None:
            return self._shard_hits(spark, qvec, 2**31 - 1, None)
        fetch_k = max(k * overfetch, k)
        return self.search(spark, qvec, k=fetch_k,
                           ef_search=max(ef_search, fetch_k))

    def search_filtered(self, spark: SparkSession, base: DataFrame,
                        id_col: str, where, qvec: Sequence[float],
                        k: int = 10,
                        ef_search: int | None = DEFAULT_EF_SEARCH,
                        overfetch: int = 4) -> DataFrame:
        """Filtered ANN through the graph (t/017_hnsw_filtering.pl): the
        0.7.x reference POST-filters the beam's candidates against the
        quals and relies on a raised ef_search to keep k survivors —
        the same contract here: each shard over-fetches k·overfetch
        candidates, the ids join back to ``base`` where ``where`` (a
        Column predicate) prunes them, and the survivors keep the best
        k. With ef_search=None the beam is exhaustive, so the filtered
        result is EXACT regardless of selectivity (the gateable
        configuration); at bounded ef, raise ``overfetch``/``ef_search``
        for selective predicates, exactly as the reference's docs
        instruct."""
        hits = self.filter_candidates(spark, qvec, k, ef_search, overfetch)
        hits = hits.withColumnRenamed("id", "_hit_id")
        joined = base.join(
            hits, base[id_col] == F.col("_hit_id")
        ).filter(where)
        return (
            joined.orderBy(F.col("distance").asc(), F.col(id_col).asc())
            .limit(k)
            .drop("_hit_id")
        )

    def search_batch(self, spark: SparkSession, qvecs: Sequence[Sequence[float]],
                     k: int = 10,
                     ef_search: int | None = DEFAULT_EF_SEARCH) -> DataFrame:
        """Offline batch k-NN: run the whole query batch through every
        shard in ONE job (each shard task loops the bounded query matrix
        over its graph), then keep the global top-k per query with a
        window — the HNSW analogue of ``IvfIndex.knn_join``.  The query
        matrix rides the task closure, so this path is for bounded
        batches (recall harnesses, reranking a shortlist); an unbounded
        query TABLE belongs on the IVF join path, whose probe map
        co-partitions instead of replicating."""
        from pyspark.sql import Window as W

        Q = np.asarray([list(q) for q in qvecs], dtype=np.float64)

        def search_graph(g: _ShardGraph) -> list[dict]:
            beam = g.n if ef_search is None else ef_search
            return [
                {"qid": qi, "id": i, "distance": d}
                for qi in range(len(Q))
                for i, d in g.search(Q[qi], k, beam)
            ]

        per_shard = self._per_shard(spark, search_graph,
                                    "qid INT, id BIGINT, distance DOUBLE")
        w = W.partitionBy("qid").orderBy(F.col("distance").asc(),
                                         F.col("id").asc())
        return (
            per_shard.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select("qid", "id", "distance", F.col("_rn").alias("rn"))
        )
