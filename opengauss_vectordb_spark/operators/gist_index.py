"""CREATE INDEX ... USING gist (box/point/range) — a persisted
R-tree-analogue spatial index: Z-order-clustered layout + bucket-MBR
manifest.

Reference: the GiST access method
(`src/gausskernel/storage/access/gist/gistbuild.cpp` ``gistbuild``,
`gistget.cpp` scan descent) with the rtree opclasses
(`gistproc.cpp:104` ``gist_box_consistent`` — leaf test
`gist_box_leaf_consistent` :809, internal-page test
`rtree_internal_consistent` :869), regress
``create_index_gist.sql``/``gpi_range.sql``.  The reference descends a
page tree whose internal entries are the union bounding boxes of their
subtrees; a query tests ``rtree_internal_consistent(pageMBR, query,
strategy)`` to decide which subtrees to visit, then
``gist_box_leaf_consistent`` on leaf tuples.  Polygons and circles are
indexed BY THEIR BOUNDING BOX (`gist_poly_compress` :925) with an
executor recheck — the internal-page machinery is shared
("Common rtree functions (for boxes, polygons, and circles)").

Spark-first shape: the index is a parquet layout of ``(row id, x1, y1,
x2, y2)`` clustered by the Z-order of box centers and partitioned by
the code's top bits (``zb``), plus a driver-side manifest of each
bucket's actual union MBR (min x1/y1, max x2/y2 — `gist_box_union`'s
result per partition).  A search runs the reference's OWN
internal-consistent test per bucket MBR driver-side (bounded metadata
math over ≤2^bucket_bits entries, the IVF probe-ranking convention),
reads only the consistent ``zb=`` partitions (PartitionFilters), and
applies the exact leaf predicate as a codegen'd Column expression —
bucket manifest = internal pages, parquet rowgroup min/max on the
coordinate columns = a finer leaf level for free.  The index carries
the coordinates, so box/point/range answers are INDEX-ONLY; the LOSSY
poly opclass (polygon by MBR, `gist_poly_compress` :925) adds the
reference's executor recheck as a semi-join back to the relation plus
an exact ray-cast predicate (gist_poly_search) — same layout, one
more join.

Two deliberate deviations, both documented: (1) comparisons are exact
IEEE doubles, not the reference's EPSILON=1e-6 fuzzy compares
(`geo_decls.h` FPlt/FPgt) — Spark and every SQL oracle compare floats
exactly, and fuzz would make results engine-private; (2) NULL
coordinates are excluded at build (a NULL box satisfies no rtree
strategy; the reference's IS NULL index support has no consumer
here).

Staleness and compaction follow the shared delta lifecycle
(index_lifecycle.py, gininsert.cpp's fastupdate pending list): pure
appends Z-bucket ONLY the new files with the FROZEN build-time
quantizer into a delta layout (out-of-bounds centers clamp to edge
cells — still correct, because pruning consults each layout's ACTUAL
bucket MBRs, recomputed per layout, never the quantizer), so merging
and compacting layers is a pure re-bucketing of extracted keys;
copy-on-write rewrites rebuild.

At 100 TB: the one-time build is a single repartition-by-zbucket
shuffle; every search reads only the buckets whose MBR passes the
consistent test (a rectangle query touches O(query area / bucket
area) partitions), the leaf predicate is whole-stage codegen, and the
driver-side manifest stays 2^bucket_bits entries — raise
``bucket_bits`` with the corpus (the WITH clause) the way IVF raises
``lists``.
"""

from __future__ import annotations

import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.explain import note_routing
from . import index_lifecycle as lifecycle
from ._util import scan_refs, status_frame, sub_outside_literals

# CREATE INDEX [name] ON tbl USING gist ( box(x1,y1,x2,y2) |
#   point(x,y) | range(lo,hi) ) [WITH (bucket_bits = k)]
# — the columnar encodings of the rtree opclasses: a box is its four
# coordinate columns, a point is the degenerate box (gistproc.cpp
# indexes points as zero-area boxes), a range is the 1-D box.
_CREATE_GIST = re.compile(
    r"^\s*CREATE\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:(?P<name>\w+)\s+)?ON\s+(?P<table>\w+)\s+"
    r"USING\s+(?:gist|spgist)\s*\(\s*(?P<fn>box|point|range|poly)\s*\(\s*"
    r"(?P<args>\w+(?:\s*,\s*\w+)*)\s*\)\s*\)"
    r"(?:\s*WITH\s*\(\s*bucket_bits\s*=\s*(?P<bb>\d+)\s*\))?"
    r"\s*;?\s*$",
    re.IGNORECASE,
)

_ARITY = {"box": 4, "point": 2, "range": 2, "poly": 1}

# the rtree strategy set (gist_box_consistent's switch)
STRATEGIES = [
    "left", "overleft", "overlap", "overright", "right", "same",
    "contains", "contained", "below", "overbelow", "above", "overabove",
]

BITS = 8  # per-axis quantization cells = 256 (sources/zorder.py)
DEFAULT_BUCKET_BITS = 4  # 16 buckets — raise WITH (bucket_bits=k)


# ------------------------------------------------------- box predicates
# geo_ops.cpp box operators, exact-compare form.  ``b`` is a 4-tuple
# (x1, y1, x2, y2) with x1<=x2, y1<=y2 (normalized at build).

def _leaf_predicate(op: str, q: tuple) -> "F.Column":
    """gist_box_leaf_consistent (gistproc.cpp:809): the exact
    strategy test over the stored coordinates, as ONE codegen'd
    boolean Column — key vs the literal query box."""
    qx1, qy1, qx2, qy2 = (F.lit(float(v)) for v in q)
    x1, y1 = F.col("x1"), F.col("y1")
    x2, y2 = F.col("x2"), F.col("y2")
    preds = {
        # directional strategies (box_left &c.)
        "left": x2 < qx1,
        "overleft": x2 <= qx2,
        "right": x1 > qx2,
        "overright": x1 >= qx1,
        "below": y2 < qy1,
        "overbelow": y2 <= qy2,
        "above": y1 > qy2,
        "overabove": y1 >= qy1,
        "overlap": (x1 <= qx2) & (x2 >= qx1) & (y1 <= qy2) & (y2 >= qy1),
        "contains": (x1 <= qx1) & (x2 >= qx2) & (y1 <= qy1) & (y2 >= qy2),
        "contained": (x1 >= qx1) & (x2 <= qx2) & (y1 >= qy1) & (y2 <= qy2),
        "same": (x1 == qx1) & (x2 == qx2) & (y1 == qy1) & (y2 == qy2),
    }
    if op not in preds:
        raise ValueError(f"gist search: unknown strategy {op!r}")
    return preds[op]


def _internal_consistent(op: str, mbr: tuple, q: tuple) -> bool:
    """rtree_internal_consistent (gistproc.cpp:869) over a bucket's
    union MBR: may the bucket contain a row satisfying ``op``?  Note
    the reference's exact structure — directional strategies negate
    the OPPOSITE over-operator, same/contains test containment, and
    contained-by tests overlap."""
    kx1, ky1, kx2, ky2 = mbr[:4]
    qx1, qy1, qx2, qy2 = q
    overlap = kx1 <= qx2 and kx2 >= qx1 and ky1 <= qy2 and ky2 >= qy1
    contain = kx1 <= qx1 and kx2 >= qx2 and ky1 <= qy1 and ky2 >= qy2
    tests = {
        "left": not (kx1 >= qx1),        # !box_overright
        "overleft": not (kx1 > qx2),     # !box_right
        "overlap": overlap,
        "overright": not (kx2 < qx1),    # !box_left
        "right": not (kx2 <= qx2),       # !box_overleft
        "same": contain,
        "contains": contain,
        "contained": overlap,
        "overbelow": not (ky1 > qy2),    # !box_above
        "below": not (ky1 >= qy1),       # !box_overabove
        "above": not (ky2 <= qy2),       # !box_overbelow
        "overabove": not (ky2 < qy1),    # !box_below
    }
    if op not in tests:
        raise ValueError(f"gist search: unknown strategy {op!r}")
    return tests[op]


# ------------------------------------------------------------ build


def _key_frame(idx: dict, df: DataFrame) -> DataFrame:
    """(doc_id, x1, y1, x2, y2) normalized box rows for ``df`` under
    the index's opclass — point/range store the degenerate box
    (gist_poly_compress's bounding-box move, exact here)."""
    cols, id_col, kind = idx["cols"], idx["id_col"], idx["kind"]
    if kind == "box":
        a, b, c, d = (F.col(x).cast("double") for x in cols)
        x1, x2 = F.least(a, c), F.greatest(a, c)
        y1, y2 = F.least(b, d), F.greatest(b, d)
    elif kind == "point":
        x1 = x2 = F.col(cols[0]).cast("double")
        y1 = y2 = F.col(cols[1]).cast("double")
    elif kind == "poly":
        # polygon column: flat [x0, y0, x1, y1, ...] vertex array —
        # the stored key is its bounding box, the LOSSY compression
        # gist_poly_compress makes (gistproc.cpp:925); searches
        # recheck exact geometry against the relation
        # (gist_poly_search), exactly the reference's
        # RECHECK-flagged consistent
        c = cols[0]
        xs = F.expr(
            f"transform(sequence(0, CAST(size({c})/2 AS INT) - 1),"
            f" i -> CAST(element_at({c}, 2*i+1) AS DOUBLE))"
        )
        ys = F.expr(
            f"transform(sequence(0, CAST(size({c})/2 AS INT) - 1),"
            f" i -> CAST(element_at({c}, 2*i+2) AS DOUBLE))"
        )
        x1, x2 = F.array_min(xs), F.array_max(xs)
        y1, y2 = F.array_min(ys), F.array_max(ys)
        df = df.filter(F.col(c).isNotNull() & (F.size(c) >= 6))
    else:  # range: 1-D box on the x axis
        lo, hi = (F.col(x).cast("double") for x in cols)
        x1, x2 = F.least(lo, hi), F.greatest(lo, hi)
        y1 = y2 = F.lit(0.0)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        x1.alias("x1"), y1.alias("y1"),
        x2.alias("x2"), y2.alias("y2"),
    )
    return out.filter(
        F.col("x1").isNotNull() & F.col("y1").isNotNull()
        & F.col("x2").isNotNull() & F.col("y2").isNotNull()
    )


def _zbucket_col(idx: dict) -> "F.Column":
    """Top bucket_bits of the Morton code of the quantized box
    center — unrolled shift/mask codegen (sources/zorder.py
    z_interleave), with the FROZEN build-time bounds so delta rows
    land in comparable buckets (out-of-range clamps to edge cells)."""
    from ..sources.zorder import _quantize, z_interleave

    cx = (F.col("x1") + F.col("x2")) / 2.0
    cy = (F.col("y1") + F.col("y2")) / 2.0
    qa = _quantize(cx, idx["a_lo"], idx["a_hi"], BITS)
    qb = _quantize(cy, idx["b_lo"], idx["b_hi"], BITS)
    z = z_interleave(qa, qb, BITS)
    return F.shiftright(z, 2 * BITS - idx["bucket_bits"])


class _Gist(lifecycle.AccessMethod):
    subdir = "_gist"
    key_frame = staticmethod(_key_frame)

    def indexes(self, engine) -> dict:
        return engine.gist_indexes

    def write_layer(self, engine, idx, keys, path, npart) -> int:
        """Write one Z-bucketed layout + record its bucket-MBR manifest
        (gist_box_union per partition); the buckets size the layout, so
        ``npart`` is unused.  The row count comes off the manifest
        aggregate (driver-bounded — 2^bucket_bits rows)."""
        (
            keys.withColumn("zb", _zbucket_col(idx))
            .repartition("zb")
            .write.mode("overwrite")
            .partitionBy("zb")
            .parquet(path)
        )
        stats = (
            engine.spark.read.parquet(path)
            .groupBy("zb")
            .agg(
                F.min("x1").alias("x1"), F.min("y1").alias("y1"),
                F.max("x2").alias("x2"), F.max("y2").alias("y2"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        # manifest entry: the bucket's union MBR + its row count (the
        # count sizes KNN's phase-1 prefix; consistent tests use the MBR)
        idx["bucket_mbrs"][path] = {
            int(r.zb): (float(r.x1), float(r.y1), float(r.x2),
                        float(r.y2), int(r.n))
            for r in stats
        }
        return int(sum(r.n for r in stats))

    def build_base(self, engine, idx, keys, path) -> int:
        """gistbuild.cpp: one bounds aggregate fixes the quantizer that
        every later delta reuses, then the base layout is written."""
        bounds = keys.agg(
            F.min("x1").alias("a_lo"), F.max("x2").alias("a_hi"),
            F.min("y1").alias("b_lo"), F.max("y2").alias("b_hi"),
        ).collect()[0]
        if bounds.a_lo is None:
            # empty relation: degenerate quantizer, empty manifest
            idx.update(a_lo=0.0, a_hi=1.0, b_lo=0.0, b_hi=1.0)
            shutil.rmtree(path, ignore_errors=True)
            idx["bucket_mbrs"][path] = {}
            return 0
        idx.update(
            a_lo=float(bounds.a_lo), a_hi=float(bounds.a_hi),
            b_lo=float(bounds.b_lo), b_hi=float(bounds.b_hi),
        )
        return self.write_layer(engine, idx, keys, path, 0)

    def layers_changed(self, engine, name, idx) -> None:
        live = {idx["base_path"], *idx["delta_paths"]}
        idx["bucket_mbrs"] = {
            p: m for p, m in idx["bucket_mbrs"].items() if p in live
        }

    def describe(self, idx) -> tuple[str, str]:
        return ",".join(idx["cols"]), f"gist_{idx['kind']}"


AM = _Gist()


# ------------------------------------------------------------ search


def gist_search(engine, index_name: str, op: str,
                query_box: tuple) -> DataFrame:
    """Strategy search through the index: the consistent test over
    bucket MBRs (driver-side, ≤2^bucket_bits entries) selects the
    partitions to read; the exact leaf predicate filters inside them.
    ``query_box`` is (x1, y1, x2, y2) — for a 'range' index pass
    (lo, 0.0, hi, 0.0); for a point query the degenerate box.
    Returns (doc_id, x1, y1, x2, y2) — index-only, the relation is
    never scanned.  Records the read footprint on the idx dict
    (``last_search``) so tests pin pruning."""
    lifecycle.ensure_fresh(engine, AM, index_name)
    idx = engine.gist_indexes[index_name]
    q = tuple(float(v) for v in query_box)
    if len(q) != 4 or q[0] > q[2] or q[1] > q[3]:
        raise ValueError(
            "gist search: query box must be (x1, y1, x2, y2) with "
            "x1<=x2, y1<=y2"
        )
    frames = []
    pruned_total = kept_total = 0
    for path in [idx["base_path"], *idx["delta_paths"]]:
        manifest = idx["bucket_mbrs"].get(path, {})
        keep = [zb for zb, mbr in manifest.items()
                if _internal_consistent(op, mbr, q)]
        pruned_total += len(manifest) - len(keep)
        kept_total += len(keep)
        if not keep:
            continue
        frames.append(
            engine.spark.read.parquet(path)
            .filter(F.col("zb").isin(keep))
            .filter(_leaf_predicate(op, q))
            .select("doc_id", "x1", "y1", "x2", "y2")
        )
    idx["last_search"] = {
        "op": op, "buckets_read": kept_total,
        "buckets_pruned": pruned_total,
    }
    if not frames:
        return engine.spark.createDataFrame(
            [], "doc_id BIGINT, x1 DOUBLE, y1 DOUBLE,"
                " x2 DOUBLE, y2 DOUBLE"
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _mindist(mbr: tuple, px: float, py: float) -> float:
    """Point-to-MBR minimum distance — computeDistance on an internal
    page (gistproc.cpp:1072: 0 inside, edge/corner distance outside).
    The driver-side KNN descent priority, exactly gistget.cpp's
    distance-ordered queue one level up."""
    kx1, ky1, kx2, ky2 = mbr[:4]
    dx = max(kx1 - px, px - kx2, 0.0)
    dy = max(ky1 - py, py - ky2, 0.0)
    return (dx * dx + dy * dy) ** 0.5


def _leaf_dist_col(px: float, py: float) -> "F.Column":
    """Point-to-box distance as a codegen'd Column
    (gistproc.cpp:1072 computeDistance, leaf case)."""
    dx = F.greatest(
        F.col("x1") - F.lit(px), F.lit(px) - F.col("x2"), F.lit(0.0)
    )
    dy = F.greatest(
        F.col("y1") - F.lit(py), F.lit(py) - F.col("y2"), F.lit(0.0)
    )
    return F.sqrt(dx * dx + dy * dy)


def gist_knn(engine, index_name: str, point: tuple, k: int) -> DataFrame:
    """KNN-GiST (`ORDER BY col <-> point LIMIT k` — gistget.cpp's
    distance-ordered scan; gistproc.cpp:1248 gist_point_distance):
    exact k nearest boxes by a TWO-PHASE expanding bucket search.
    Phase 1 reads the minimal mindist-ordered bucket prefix holding
    ≥k rows (counts ride in the manifest) and takes a provisional
    top-k; phase 2 adds every remaining bucket whose MBR mindist ≤
    the provisional k-th distance — any box that could still enter
    the top-k lives in one of those — and re-takes.  ≤2 pruned scans,
    each a bounded TakeOrdered heap; ties break on doc_id so results
    are deterministic.  Returns (doc_id, x1, y1, x2, y2, dist)."""
    lifecycle.ensure_fresh(engine, AM, index_name)
    idx = engine.gist_indexes[index_name]
    px, py = float(point[0]), float(point[1])
    # (mindist, path, zb, n) over base ∪ deltas
    entries = []
    for path in [idx["base_path"], *idx["delta_paths"]]:
        for zb, mbr in idx["bucket_mbrs"].get(path, {}).items():
            entries.append((_mindist(mbr, px, py), path, zb, mbr[4]))
    entries.sort()
    covered = 0
    phase1: dict[str, list[int]] = {}
    cut = 0
    for d, path, zb, n in entries:
        if covered >= k:
            break
        phase1.setdefault(path, []).append(zb)
        covered += n
        cut += 1

    def _read(selection: dict) -> DataFrame | None:
        frames = [
            engine.spark.read.parquet(path)
            .filter(F.col("zb").isin(zbs))
            .select("doc_id", "x1", "y1", "x2", "y2")
            for path, zbs in selection.items()
        ]
        if not frames:
            return None
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    empty = (
        "doc_id BIGINT, x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE,"
        " dist DOUBLE"
    )
    cand = _read(phase1)
    if cand is None:
        return engine.spark.createDataFrame([], empty)
    topk = (
        cand.withColumn("dist", _leaf_dist_col(px, py))
        .orderBy("dist", "doc_id")
        .limit(k)
        .collect()
    )
    kth = topk[-1].dist if len(topk) >= k else float("inf")
    phase2: dict[str, list[int]] = {}
    extra = 0
    for d, path, zb, n in entries[cut:]:
        if d <= kth:  # ≤: an equal-distance box may win the doc_id tie
            phase2.setdefault(path, []).append(zb)
            extra += 1
    idx["last_search"] = {
        "op": "knn", "buckets_read": cut + extra,
        "buckets_pruned": len(entries) - cut - extra,
    }
    if not phase2:
        return engine.spark.createDataFrame(topk, empty)
    more = _read(phase2).withColumn("dist", _leaf_dist_col(px, py))
    p1 = engine.spark.createDataFrame(topk, empty)
    return p1.unionByName(more).orderBy("dist", "doc_id").limit(k)


def _point_in_poly_sql(col: str, px: float, py: float) -> str:
    """Exact point-in-polygon (ray casting) as ONE codegen'd SQL
    predicate over the flat vertex array — the executor RECHECK the
    lossy MBR key requires (gistproc.cpp:1030 gist_poly_consistent
    returns the candidate with the recheck flag set; the exact test
    is adt/geo_ops.cpp point_inside).  The CASE keeps the edge-slope
    division conditional on the crossing test, so horizontal edges
    never divide by zero."""
    n = f"CAST(size({col})/2 AS INT)"
    xi = f"CAST(element_at({col}, 2*i+1) AS DOUBLE)"
    yi = f"CAST(element_at({col}, 2*i+2) AS DOUBLE)"
    xj = f"CAST(element_at({col}, 2*((i+1) % {n})+1) AS DOUBLE)"
    yj = f"CAST(element_at({col}, 2*((i+1) % {n})+2) AS DOUBLE)"
    return (
        f"size(filter(sequence(0, {n} - 1), i -> "
        f"CASE WHEN ({yi} > {py}d) != ({yj} > {py}d) "
        f"THEN {px}d < ({xj} - {xi}) * ({py}d - {yi})"
        f" / ({yj} - {yi}) + {xi} "
        f"ELSE false END)) % 2 = 1"
    )


def gist_poly_search(engine, index_name: str,
                     point: tuple) -> DataFrame:
    """``poly @> point`` through a poly-opclass gist index — the
    TWO-PHASE lossy plan the reference runs (gistproc.cpp:925
    gist_poly_compress stores the MBR; :1030 gist_poly_consistent
    answers MAYBE and sets the recheck flag; the executor re-tests
    exact geometry on the heap row):

      phase 1 — INDEX: bucket-MBR pruning + the leaf MBR-contains
        test select candidate doc_ids (a superset);
      phase 2 — RECHECK: one semi-join back to the relation on the
        row id, then the exact ray-cast predicate (codegen'd,
        _point_in_poly_sql) keeps true containers only.

    Returns (doc_id).  Scale: the relation is touched only for
    candidate rows (the semi-join's build side is the pruned index
    scan), and the recheck is whole-stage codegen — exactly the
    reference's lossy-index contract at Spark shapes."""
    idx = engine.gist_indexes[index_name]
    if idx["kind"] != "poly":
        raise ValueError(
            f"gist_poly_search: index {index_name!r} is not a "
            "poly-opclass gist index"
        )
    px, py = float(point[0]), float(point[1])
    cand = gist_search(engine, index_name, "contains",
                       (px, py, px, py)).select("doc_id")
    idx["last_search"]["recheck"] = True
    rel = lifecycle.source_df(engine, idx["table"])
    id_col, col = idx["id_col"], idx["cols"][0]
    out = (
        rel.join(cand, rel[id_col] == cand["doc_id"], "left_semi")
        .filter(F.expr(_point_in_poly_sql(col, px, py)))
        .select(F.col(id_col).cast("long").alias("doc_id"))
    )
    if engine.last_index_routing is not None:
        # EXPLAIN armed: the lossy-index evidence the reference
        # prints as 'Rows Removed by Index Recheck' — candidate
        # count (MBR phase, a superset) vs exact ray-cast survivors
        idx["last_search"]["candidates"] = cand.count()
        idx["last_search"]["recheck_survivors"] = out.count()
    return out


# box(a,b,c,d) <op> box(l1,l2,l3,l4) — the rtree operators in SQL
# text over a four-column box with a literal query box (geo_ops.cpp
# box_overlap/box_contain/box_contained; the reference spells the
# literal `box '(x1,y1),(x2,y2)'`, the columnar dialect spells both
# sides box(...)).
_GIST_BOX_OP = re.compile(
    r"\bbox\s*\(\s*(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*){3})"
    r"\s*\)\s*(?P<op>&&|@>|<@)\s*box\s*\(\s*"
    r"(?P<lits>-?\d+(?:\.\d+)?(?:\s*,\s*-?\d+(?:\.\d+)?){3})\s*\)",
    re.IGNORECASE,
)

_GIST_OP_NAMES = {"&&": "overlap", "@>": "contains", "<@": "contained"}

# poly_col @> point(x, y) — polygon containment in SQL text
# (geo_ops.cpp poly_contain_pt; the reference spells the RHS
# `point '(x,y)'`, the columnar dialect spells point(x, y))
_GIST_POLY_OP = re.compile(
    r"\b(?P<col>[A-Za-z_]\w*)\s*@>\s*point\s*\(\s*"
    r"(?P<px>-?\d+(?:\.\d+)?)\s*,\s*(?P<py>-?\d+(?:\.\d+)?)\s*\)",
    re.IGNORECASE,
)


def rewrite_gist_ops(engine, query: str) -> str:
    """Box and polygon operators in SQL text → an index-backed
    semi-join when a matching gist index covers the column(s) on the
    unique scanned relation (the gin rewrite resolution rule), else
    the inline predicate (normalized box algebra / the exact ray
    cast — always correct, whole-stage codegen).  Identity when no
    operator appears."""
    if not _GIST_BOX_OP.search(query) \
            and not _GIST_POLY_OP.search(query):
        return query
    refs = scan_refs(query)

    def _routed(kind: str, cols: list[str]) -> tuple[str, str] | None:
        """(index name, SQL qualifier) of the unique scanned relation
        owning every column and carrying a ``kind`` gist index on
        exactly this column tuple; None (inline fallback)."""
        cands = []
        for t, qual in refs:
            for name, idx in engine.gist_indexes.items():
                if idx["table"] != t or idx["kind"] != kind \
                        or idx["cols"] != cols:
                    continue
                try:
                    owned = [c.lower()
                             for c in engine.spark.table(t).columns]
                except Exception:
                    continue
                if all(c in owned for c in cols):
                    cands.append((name, qual if len(refs) > 1 else ""))
        return cands[0] if len(cands) == 1 else None

    def _sub_poly(m: re.Match) -> str:
        col = m.group("col").lower()
        px, py = float(m.group("px")), float(m.group("py"))
        routed = _routed("poly", [col])
        if routed:
            name, qual = routed
            idx = engine.gist_indexes[name]
            df = gist_poly_search(engine, name, (px, py))
            ls = idx["last_search"]
            recheck = ""
            if "candidates" in ls:
                removed = ls["candidates"] - ls["recheck_survivors"]
                recheck = (f", candidates {ls['candidates']}, "
                           f"recheck survivors "
                           f"{ls['recheck_survivors']} "
                           f"(rows removed by recheck: {removed})")
            note_routing(
                engine,
                f"Index Scan using {name} on {idx['table']} "
                f"(gist poly, lossy + recheck): buckets read "
                f"{ls['buckets_read']}, pruned {ls['buckets_pruned']}"
                f"{recheck}",
            )
            view = f"__gistp_{name}_{abs(hash((px, py))) % 10**8}"
            df.createOrReplaceTempView(view)
            pfx = f"{qual}." if qual else ""
            return (f"{pfx}{idx['id_col']} IN "
                    f"(SELECT doc_id FROM {view})")
        # inline: the exact ray cast (identical semantics, no index)
        return f"({_point_in_poly_sql(col, px, py)})"

    query = sub_outside_literals(_GIST_POLY_OP, _sub_poly, query)

    def _sub(m: re.Match) -> str:
        cols = [c.strip().lower() for c in m.group("cols").split(",")]
        lits = [float(v) for v in m.group("lits").split(",")]
        q = (min(lits[0], lits[2]), min(lits[1], lits[3]),
             max(lits[0], lits[2]), max(lits[1], lits[3]))
        op = _GIST_OP_NAMES[m.group("op")]
        routed = _routed("box", cols)
        if routed:
            name, qual = routed
            idx = engine.gist_indexes[name]
            df = gist_search(engine, name, op, q).select("doc_id")
            ls = idx["last_search"]
            note_routing(
                engine,
                f"Index Scan using {name} on {idx['table']} "
                f"(gist box): strategy {op}, buckets read "
                f"{ls['buckets_read']}, pruned {ls['buckets_pruned']}",
            )
            view = (f"__gist_{name}_"
                    f"{abs(hash((op, q))) % 10**8}")
            df.createOrReplaceTempView(view)
            pfx = f"{qual}." if qual else ""
            return (f"{pfx}{idx['id_col']} IN "
                    f"(SELECT doc_id FROM {view})")
        # inline fallback: normalized box algebra over the columns
        a, b, c, d = cols
        x1, y1 = f"least({a}, {c})", f"least({b}, {d})"
        x2, y2 = f"greatest({a}, {c})", f"greatest({b}, {d})"
        qx1, qy1, qx2, qy2 = q
        if op == "overlap":
            return (f"({x1} <= {qx2} AND {x2} >= {qx1}"
                    f" AND {y1} <= {qy2} AND {y2} >= {qy1})")
        if op == "contains":
            return (f"({x1} <= {qx1} AND {x2} >= {qx2}"
                    f" AND {y1} <= {qy1} AND {y2} >= {qy2})")
        return (f"({x1} >= {qx1} AND {x2} <= {qx2}"
                f" AND {y1} >= {qy1} AND {y2} <= {qy2})")

    return sub_outside_literals(_GIST_BOX_OP, _sub, query)


# ------------------------------------------------------------ DDL


def try_handle_ddl(engine, query: str):
    """Engine.sql hook: CREATE INDEX ... USING gist."""
    m = _CREATE_GIST.match(query)
    if m is None:
        return None
    table = m.group("table").lower()
    fn = m.group("fn").lower()
    cols = [c.strip().lower() for c in m.group("args").split(",")]
    if len(cols) != _ARITY[fn]:
        raise ValueError(
            f"gist index: {fn}() takes {_ARITY[fn]} coordinate "
            f"columns, got {len(cols)}"
        )
    name = (m.group("name") or f"{table}_{cols[0]}_gist").lower()
    df = lifecycle.source_df(engine, table)
    missing = [c for c in cols if c not in [x.lower() for x in df.columns]]
    if missing:
        raise KeyError(
            f"gist index: column(s) {missing} not in {table!r}"
        )
    id_col = df.columns[0]
    if id_col.lower() in cols:
        raise ValueError(
            "gist index: the relation's first column is its row "
            "identifier and cannot also be an indexed coordinate"
        )
    bb = int(m.group("bb") or DEFAULT_BUCKET_BITS)
    if not 1 <= bb <= 2 * BITS:
        raise ValueError(f"gist index: bucket_bits must be in [1, {2*BITS}]")
    idx = lifecycle.create(engine, AM, name, {
        "table": table, "kind": fn, "cols": cols, "id_col": id_col,
        "bucket_bits": bb, "bucket_mbrs": {},
    })
    return status_frame(engine.spark, ("CREATE INDEX", name, table, fn, idx["base_rows"],
          len(idx["bucket_mbrs"].get(idx["base_path"], {}))), "tag STRING, index STRING, table STRING, opclass STRING,"
        " rows BIGINT, buckets INT",)


# ---------------------------------------------------------------- queries

from ..registry import query as _register_query  # noqa: E402


@_register_query(
    "gist_box_overlap",
    """
    WITH boxes AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE)
               - (0.02 + (vec_id % 5) * 0.01) AS x1,
             CAST(embedding[2] AS DOUBLE)
               - (0.015 + (vec_id % 3) * 0.01) AS y1,
             CAST(embedding[1] AS DOUBLE)
               + (0.02 + (vec_id % 5) * 0.01) AS x2,
             CAST(embedding[2] AS DOUBLE)
               + (0.015 + (vec_id % 3) * 0.01) AS y2
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT vec_id AS doc_id,
           ROUND((x2 - x1) * (y2 - y1), 6) AS area
    FROM boxes
    WHERE x1 <= 0.12 AND x2 >= -0.03 AND y1 <= 0.09 AND y2 >= -0.04
    ORDER BY doc_id
    """,
)
def gist_box_overlap(spark, sf_dir):
    """GiST rtree index end-to-end (gistbuild.cpp; gistproc.cpp:104
    gist_box_consistent; regress create_index_gist.sql's grect2ind
    `&&` scans): CTAS a box relation, CREATE INDEX USING gist
    (box(...)), then an overlap (&&) search answers INDEX-ONLY —
    bucket MBRs prune partitions, the leaf predicate filters inside.
    The oracle recomputes the same overlap by brute-force scan, so a
    green row proves the clustered layout + manifest are a faithful
    spatial inversion.

    Scale: the search reads only MBR-consistent zbuckets (pruning
    pinned in tests/test_gist_index.py), leaf test codegen'd,
    manifest math driver-bounded."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gist_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gate_gist_boxes AS"
            " SELECT vec_id,"
            " CAST(element_at(embedding, 1) AS DOUBLE)"
            "   - (0.02 + (vec_id % 5) * 0.01) AS x1,"
            " CAST(element_at(embedding, 2) AS DOUBLE)"
            "   - (0.015 + (vec_id % 3) * 0.01) AS y1,"
            " CAST(element_at(embedding, 1) AS DOUBLE)"
            "   + (0.02 + (vec_id % 5) * 0.01) AS x2,"
            " CAST(element_at(embedding, 2) AS DOUBLE)"
            "   + (0.015 + (vec_id % 3) * 0.01) AS y2"
            " FROM embeddings WHERE embedding IS NOT NULL"
        )
        eng.sql(
            "CREATE INDEX gate_box_gist ON gate_gist_boxes"
            " USING gist (box(x1, y1, x2, y2))"
        )
        out = gist_search(
            eng, "gate_box_gist", "overlap", (-0.03, -0.04, 0.12, 0.09)
        )
        rows = (
            out.select(
                "doc_id",
                F.round(
                    (F.col("x2") - F.col("x1"))
                    * (F.col("y2") - F.col("y1")), 6
                ).alias("area"),
            )
            .orderBy("doc_id")
            .collect()
        )
        return spark.createDataFrame(rows, "doc_id BIGINT, area DOUBLE")
    finally:
        eng.sql("DROP INDEX gate_box_gist")
        shutil.rmtree(tmp, ignore_errors=True)


@_register_query(
    "gist_knn_point",
    """
    WITH boxes AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE)
               - (0.02 + (vec_id % 5) * 0.01) AS x1,
             CAST(embedding[2] AS DOUBLE)
               - (0.015 + (vec_id % 3) * 0.01) AS y1,
             CAST(embedding[1] AS DOUBLE)
               + (0.02 + (vec_id % 5) * 0.01) AS x2,
             CAST(embedding[2] AS DOUBLE)
               + (0.015 + (vec_id % 3) * 0.01) AS y2
      FROM embeddings WHERE embedding IS NOT NULL
    ), d AS (
      SELECT vec_id,
             greatest(x1 - 0.05, 0.05 - x2, 0.0) AS dx,
             greatest(y1 - 0.02, 0.02 - y2, 0.0) AS dy
      FROM boxes
    )
    SELECT vec_id AS doc_id,
           ROUND(sqrt(dx * dx + dy * dy), 6) AS dist
    FROM d
    ORDER BY sqrt(dx * dx + dy * dy), doc_id
    LIMIT 25
    """,
)
def gist_knn_point(spark, sf_dir):
    """KNN-GiST end-to-end (gistget.cpp distance-ordered scan;
    gistproc.cpp:1248 gist_point_distance; regress
    create_index_gist.sql's `ORDER BY p <-> point LIMIT` block): the
    25 nearest boxes to a query point through the index's two-phase
    expanding bucket search — bucket mindist ranking plays the
    reference's pairing-heap descent, the leaf point-to-box distance
    is a codegen'd expression, and the stopping bound (k-th distance
    vs next bucket's mindist) makes the pruned answer EXACT.  The
    oracle brute-forces the same distance over all boxes."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gist_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gate_gist_kboxes AS"
            " SELECT vec_id,"
            " CAST(element_at(embedding, 1) AS DOUBLE)"
            "   - (0.02 + (vec_id % 5) * 0.01) AS x1,"
            " CAST(element_at(embedding, 2) AS DOUBLE)"
            "   - (0.015 + (vec_id % 3) * 0.01) AS y1,"
            " CAST(element_at(embedding, 1) AS DOUBLE)"
            "   + (0.02 + (vec_id % 5) * 0.01) AS x2,"
            " CAST(element_at(embedding, 2) AS DOUBLE)"
            "   + (0.015 + (vec_id % 3) * 0.01) AS y2"
            " FROM embeddings WHERE embedding IS NOT NULL"
        )
        eng.sql(
            "CREATE INDEX gate_kbox_gist ON gate_gist_kboxes"
            " USING gist (box(x1, y1, x2, y2)) WITH (bucket_bits = 6)"
        )
        out = gist_knn(eng, "gate_kbox_gist", (0.05, 0.02), 25)
        rows = (
            out.select("doc_id", F.round("dist", 6).alias("dist"))
            .collect()
        )
        return spark.createDataFrame(rows, "doc_id BIGINT, dist DOUBLE")
    finally:
        eng.sql("DROP INDEX gate_kbox_gist")
        shutil.rmtree(tmp, ignore_errors=True)


@_register_query(
    "gist_range_overlap",
    """
    WITH r AS (
      SELECT o_orderkey AS rid,
             CAST(o_orderkey % 997 AS DOUBLE) AS lo,
             CAST(o_orderkey % 997 + 1 + o_orderkey % 13 AS DOUBLE) AS hi
      FROM orders
    )
    SELECT rid AS doc_id, lo, hi
    FROM r
    WHERE lo <= 115 AND hi >= 100
    ORDER BY doc_id
    """,
)
def gist_range_overlap(spark, sf_dir):
    """Range-type GiST (rangetypes_gist.cpp range_gist_consistent;
    regress gpi_range.sql / rangetypes.sql `&&` scans): a range is
    the 1-D box, indexed and searched through the same rtree layout —
    `int4range(lo, hi) && int4range(100, 115)` becomes a 1-D MBR
    prune + codegen'd interval-overlap leaf test, index-only."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gist_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gate_gist_ranges AS"
            " SELECT o_orderkey AS rid,"
            " CAST(o_orderkey % 997 AS DOUBLE) AS lo,"
            " CAST(o_orderkey % 997 + 1 + o_orderkey % 13 AS DOUBLE)"
            "   AS hi"
            " FROM orders"
        )
        eng.sql(
            "CREATE INDEX gate_range_gist ON gate_gist_ranges"
            " USING gist (range(lo, hi)) WITH (bucket_bits = 5)"
        )
        out = gist_search(
            eng, "gate_range_gist", "overlap", (100.0, 0.0, 115.0, 0.0)
        )
        rows = (
            out.select(
                F.col("doc_id"),
                F.col("x1").alias("lo"),
                F.col("x2").alias("hi"),
            )
            .orderBy("doc_id")
            .collect()
        )
        return spark.createDataFrame(
            rows, "doc_id BIGINT, lo DOUBLE, hi DOUBLE"
        )
    finally:
        eng.sql("DROP INDEX gate_range_gist")
        shutil.rmtree(tmp, ignore_errors=True)


@_register_query(
    "gist_poly_contains",
    """
    WITH polys AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS cx,
             CAST(embedding[2] AS DOUBLE) AS cy,
             0.02 + (vec_id % 5) * 0.01 AS r
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT vec_id AS doc_id
    FROM polys
    WHERE abs(0.0412 - cx) + abs(0.0273 - cy) < r
    ORDER BY doc_id
    """,
)
def gist_poly_contains(spark, sf_dir):
    """Polygon GiST opclass with executor RECHECK (gistproc.cpp:925
    gist_poly_compress / :1030 gist_poly_consistent; regress
    create_index_gist's gpolygonind scans): polygons store as flat
    vertex arrays, the index keys their MBRs (lossy), and a
    ``poly @> point`` search runs phase-1 MBR pruning then the exact
    ray-cast recheck semi-joined against the relation.  The polygons
    are diamonds around embedding centers, so the DuckDB oracle can
    state exact containment in closed form (|dx| + |dy| < r) — an
    INDEPENDENT formulation of the geometry the ray cast must agree
    with on every row.

    Scale: candidates = MBR-consistent buckets only; the recheck
    touches candidate rows via one semi-join, whole-stage codegen —
    the lossy-index contract at Spark shapes."""
    import shutil
    import tempfile

    from ..engine import Engine

    eng = Engine(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="gist_gate_")
    eng.managed_tables.root = tmp
    try:
        eng.sql(
            "CREATE TABLE gate_gist_polys AS"
            " SELECT vec_id,"
            " array("
            "   CAST(element_at(embedding, 1) AS DOUBLE)"
            "     + (0.02 + (vec_id % 5) * 0.01),"
            "   CAST(element_at(embedding, 2) AS DOUBLE),"
            "   CAST(element_at(embedding, 1) AS DOUBLE),"
            "   CAST(element_at(embedding, 2) AS DOUBLE)"
            "     + (0.02 + (vec_id % 5) * 0.01),"
            "   CAST(element_at(embedding, 1) AS DOUBLE)"
            "     - (0.02 + (vec_id % 5) * 0.01),"
            "   CAST(element_at(embedding, 2) AS DOUBLE),"
            "   CAST(element_at(embedding, 1) AS DOUBLE),"
            "   CAST(element_at(embedding, 2) AS DOUBLE)"
            "     - (0.02 + (vec_id % 5) * 0.01)"
            " ) AS poly"
            " FROM embeddings WHERE embedding IS NOT NULL"
        )
        eng.sql(
            "CREATE INDEX gate_poly_gist ON gate_gist_polys"
            " USING gist (poly(poly))"
        )
        rows = (
            gist_poly_search(eng, "gate_poly_gist", (0.0412, 0.0273))
            .orderBy("doc_id")
            .collect()
        )
        return spark.createDataFrame(rows, "doc_id BIGINT")
    finally:
        eng.sql("DROP INDEX gate_poly_gist")
        shutil.rmtree(tmp, ignore_errors=True)
