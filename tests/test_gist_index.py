"""GiST rtree-analogue index: Z-bucketed layout + bucket-MBR manifest.

Pins the three claims the design makes (gistproc.cpp parity):
  * every rtree strategy returns exactly the brute-force answer
    (leaf consistency + internal consistency never prune a match);
  * a selective query READS a strict subset of buckets (the
    internal-page descent actually prunes);
  * maintenance is incremental for appends (delta layouts over only
    the new files, index_lifecycle's fastupdate model) and compacts on
    copy-on-write rewrites.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opengauss_vectordb_spark.engine import Engine
from opengauss_vectordb_spark.operators import gist_index as G
from opengauss_vectordb_spark.operators import index_lifecycle as L

from .conftest import SF_CORRECT

STRATEGIES = G.STRATEGIES


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, SF_CORRECT)
    e.managed_tables.root = str(tmp_path)
    return e


def _boxes_table(eng, name="gboxes"):
    eng.sql(
        f"CREATE TABLE {name} AS"
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


def _brute(eng, name, op, q):
    df = eng.spark.table(name).select(
        F.col("vec_id").alias("doc_id"), "x1", "y1", "x2", "y2"
    )
    return sorted(
        r.doc_id for r in df.filter(G._leaf_predicate(op, q)).collect()
    )


def test_every_strategy_matches_brute_force(eng):
    _boxes_table(eng)
    eng.sql("CREATE INDEX gb_gist ON gboxes USING gist (box(x1, y1, x2, y2))")
    q = (-0.03, -0.04, 0.12, 0.09)
    for op in STRATEGIES:
        got = sorted(
            r.doc_id
            for r in G.gist_search(eng, "gb_gist", op, q).collect()
        )
        want = _brute(eng, "gboxes", op, q)
        assert got == want, f"strategy {op}: {len(got)} vs {len(want)}"


def test_search_prunes_buckets(eng):
    # a small query box must leave most buckets unread — the
    # internal-page consistent test earning its manifest
    _boxes_table(eng)
    eng.sql(
        "CREATE INDEX gb_gist ON gboxes USING gist (box(x1, y1, x2, y2))"
        " WITH (bucket_bits = 6)"
    )
    idx = eng.gist_indexes["gb_gist"]
    total = len(idx["bucket_mbrs"][idx["base_path"]])
    out = G.gist_search(eng, "gb_gist", "contained",
                        (-0.02, -0.02, 0.06, 0.06))
    n = out.count()
    ls = idx["last_search"]
    assert ls["buckets_read"] < total, (
        f"no pruning: read {ls['buckets_read']}/{total}"
    )
    assert ls["buckets_read"] + ls["buckets_pruned"] == total
    # and the pruned read still finds every brute-force match
    assert n == len(_brute(eng, "gboxes", "contained",
                           (-0.02, -0.02, 0.06, 0.06)))


def test_point_and_range_opclasses(eng):
    eng.sql(
        "CREATE TABLE gpts AS SELECT vec_id,"
        " CAST(element_at(embedding, 1) AS DOUBLE) AS px,"
        " CAST(element_at(embedding, 2) AS DOUBLE) AS py"
        " FROM embeddings WHERE embedding IS NOT NULL"
    )
    eng.sql("CREATE INDEX gp_gist ON gpts USING gist (point(px, py))")
    q = (-0.1, -0.1, 0.1, 0.1)
    got = sorted(
        r.doc_id
        for r in G.gist_search(eng, "gp_gist", "contained", q).collect()
    )
    want = sorted(
        r.vec_id for r in eng.spark.table("gpts").filter(
            (F.col("px") >= q[0]) & (F.col("px") <= q[2])
            & (F.col("py") >= q[1]) & (F.col("py") <= q[3])
        ).collect()
    )
    assert got == want and got
    # 1-D ranges: overlap is interval intersection
    eng.sql(
        "CREATE TABLE grng AS SELECT o_orderkey AS rid,"
        " CAST(o_orderkey % 997 AS DOUBLE) AS lo,"
        " CAST(o_orderkey % 997 + 1 + o_orderkey % 13 AS DOUBLE) AS hi"
        " FROM orders"
    )
    eng.sql("CREATE INDEX gr_gist ON grng USING gist (range(lo, hi))")
    got = sorted(
        r.doc_id
        for r in G.gist_search(
            eng, "gr_gist", "overlap", (100.0, 0.0, 115.0, 0.0)
        ).collect()
    )
    want = sorted(
        r.rid for r in eng.spark.table("grng").filter(
            (F.col("lo") <= 115.0) & (F.col("hi") >= 100.0)
        ).collect()
    )
    assert got == want and got


def test_knn_matches_brute_force_and_prunes(eng):
    # exact k nearest boxes through the two-phase expanding search,
    # against the brute-force distance ranking — several k values and
    # query points, including one far outside every box (forces large
    # kth distances → phase-2 expansion) and one inside a dense area
    _boxes_table(eng, "gknn")
    eng.sql(
        "CREATE INDEX gk_gist ON gknn USING gist (box(x1, y1, x2, y2))"
        " WITH (bucket_bits = 6)"
    )
    idx = eng.gist_indexes["gk_gist"]
    total = len(idx["bucket_mbrs"][idx["base_path"]])
    df = eng.spark.table("gknn")
    for (px, py), k in [((0.05, 0.02), 10), ((0.0, 0.0), 25),
                        ((5.0, 5.0), 7), ((-0.3, 0.3), 1)]:
        got = [
            (r.doc_id, round(r.dist, 9))
            for r in G.gist_knn(eng, "gk_gist", (px, py), k).collect()
        ]
        want = sorted(
            (
                (r.vec_id, round(
                    (max(r.x1 - px, px - r.x2, 0.0) ** 2
                     + max(r.y1 - py, py - r.y2, 0.0) ** 2) ** 0.5, 9))
                for r in df.collect()
            ),
            key=lambda t: (t[1], t[0]),
        )[:k]
        assert got == want, f"knn({px},{py},k={k})"
    # the small-k nearby query must not read every bucket
    G.gist_knn(eng, "gk_gist", (0.05, 0.02), 5).collect()
    assert eng.gist_indexes["gk_gist"]["last_search"]["buckets_read"] < total


def test_incremental_delta_maintenance(eng):
    eng.sql(
        "CREATE TABLE ginc AS SELECT * FROM VALUES"
        " (1, 0.0, 0.0, 1.0, 1.0), (2, 5.0, 5.0, 6.0, 6.0)"
        " AS t(rid, x1, y1, x2, y2)"
    )
    eng.sql("CREATE INDEX ginc_gist ON ginc USING gist (box(x1, y1, x2, y2))")
    idx = eng.gist_indexes["ginc_gist"]
    assert idx["last_maintenance"]["mode"] == "rebuild"
    base_files = set(idx["covered_files"])
    q = (0.5, 0.5, 5.5, 5.5)
    ids = lambda: sorted(  # noqa: E731
        r.doc_id
        for r in G.gist_search(eng, "ginc_gist", "overlap", q).collect()
    )
    assert ids() == [1, 2]
    # append: delta over only the new file(s); note the new box lies
    # OUTSIDE the build-time quantizer bounds — the clamped bucket's
    # actual MBR still covers it, so the search stays exact
    eng.sql("INSERT INTO ginc SELECT 3, 4.5, 4.5, 9.0, 9.0")
    assert ids() == [1, 2, 3]
    lm = idx["last_maintenance"]
    assert lm["mode"] == "delta"
    read = {f.rsplit("/", 1)[-1] for f in lm["input_files"]}
    assert not (read & base_files), "delta re-read base files"
    assert len(idx["delta_paths"]) == 1
    # copy-on-write rewrite compacts via full rebuild
    eng.sql("UPDATE ginc SET x2 = 2.0 WHERE rid = 1")
    assert ids() == [1, 2, 3]
    assert idx["last_maintenance"]["mode"] == "rebuild"
    assert idx["delta_paths"] == []


def test_key_level_compaction_and_vacuum(eng, tmp_path):
    """Over-threshold deltas fold base ∪ deltas at the KEY level —
    the relation is never re-scanned (inputFiles pin) — and VACUUM is
    the explicit maintenance spelling: it folds deltas, and the
    row-preserving generation swap carries the index watermarks so
    the next search needs NO maintenance at all."""
    eng.sql(
        "CREATE TABLE gvac AS SELECT * FROM VALUES"
        " (1, 0.0, 0.0, 1.0, 1.0), (2, 5.0, 5.0, 6.0, 6.0)"
        " AS t(rid, x1, y1, x2, y2)"
    )
    eng.sql("CREATE INDEX gv_gist ON gvac USING gist (box(x1, y1, x2, y2))")
    idx = eng.gist_indexes["gv_gist"]
    q = (0.0, 0.0, 10.0, 10.0)
    ids = lambda: sorted(  # noqa: E731
        r.doc_id
        for r in G.gist_search(eng, "gv_gist", "overlap", q).collect()
    )
    assert ids() == [1, 2]
    old_min, old_frac = L.MIN_DELTA_ROWS, L.MAX_DELTA_ROW_FRACTION
    L.MIN_DELTA_ROWS, L.MAX_DELTA_ROW_FRACTION = 0, 0.0
    try:
        eng.sql("INSERT INTO gvac SELECT 3, 2.0, 2.0, 3.0, 3.0")
        assert ids() == [1, 2, 3]
        lm = idx["last_maintenance"]
        assert lm["mode"] == "compact"
        assert idx["delta_paths"] == [] and "base_c" in idx["base_path"]
        rel_dir = str(tmp_path) + "/gvac"
        assert lm["input_files"] and all(
            rel_dir not in f for f in lm["input_files"]
        ), "key-level compaction re-read relation files"
    finally:
        L.MIN_DELTA_ROWS, L.MAX_DELTA_ROW_FRACTION = old_min, old_frac
    # delta-count bound: at MAX_DELTAS deltas merge into one layout
    old_max = L.MAX_DELTAS
    L.MAX_DELTAS = 2
    try:
        eng.sql("INSERT INTO gvac SELECT 5, 4.0, 4.0, 4.5, 4.5")
        assert ids() == [1, 2, 3, 5]
        eng.sql("INSERT INTO gvac SELECT 6, 6.5, 6.5, 7.5, 7.5")
        assert ids() == [1, 2, 3, 5, 6]
        assert len(idx["delta_paths"]) == 1
        assert "merged" in idx["delta_paths"][0]
    finally:
        L.MAX_DELTAS = old_max
    # VACUUM: folds the pending delta explicitly, and the generation
    # swap does NOT invalidate the index (watermarks carried)
    eng.sql("INSERT INTO gvac SELECT 4, 7.0, 7.0, 8.0, 8.0")
    assert ids() == [1, 2, 3, 4, 5, 6]
    assert idx["delta_paths"]  # a delta is pending
    eng.sql("VACUUM gvac")
    assert idx["delta_paths"] == []
    assert idx["last_maintenance"]["mode"] == "compact"
    assert idx["built_csn"] == eng.managed_tables.latest_commit("gvac")["csn"]
    marker = dict(idx["last_maintenance"])
    assert ids() == [1, 2, 3, 4, 5, 6]
    assert idx["last_maintenance"] == marker, (
        "post-VACUUM search triggered maintenance — the generation "
        "swap was mistaken for a content rewrite"
    )


def test_drop_and_table_cascade(eng):
    _boxes_table(eng, "gdrop")
    eng.sql("CREATE INDEX gd_gist ON gdrop USING gist (box(x1, y1, x2, y2))")
    assert "gd_gist" in eng.gist_indexes
    r = eng.sql("DROP INDEX gd_gist").collect()[0]
    assert bool(r.existed) and "gd_gist" not in eng.gist_indexes
    eng.sql("CREATE INDEX gd2_gist ON gdrop USING gist (box(x1, y1, x2, y2))")
    eng.sql("DROP TABLE gdrop")
    assert "gd2_gist" not in eng.gist_indexes


def test_ddl_validation(eng):
    _boxes_table(eng, "gval")
    with pytest.raises(KeyError):
        eng.sql("CREATE INDEX ON gval USING gist (box(x1, y1, x2, nope))")
    with pytest.raises(ValueError):
        eng.sql("CREATE INDEX ON gval USING gist (box(x1, y1, x2, vec_id))")
    with pytest.raises(ValueError):
        eng.sql(
            "CREATE INDEX ON gval USING gist (box(x1, y1, x2, y2))"
            " WITH (bucket_bits = 99)"
        )


def test_spgist_spelling_and_partial_index(eng):
    """USING spgist routes to the same rtree layout (the quad/kd-tree
    AM answers the same point predicates — create_index_spgist.sql's
    scan surface), and CREATE INDEX ... WHERE (a partial index) is
    tolerated: the sorted/bucketed layout covers a superset of the
    partial index's rows, so every query it would serve stays
    correct."""
    eng.sql(
        "CREATE TABLE spt AS SELECT vec_id,"
        " CAST(element_at(embedding, 1) AS DOUBLE) AS px,"
        " CAST(element_at(embedding, 2) AS DOUBLE) AS py"
        " FROM embeddings WHERE embedding IS NOT NULL"
    )
    eng.sql("CREATE INDEX spq ON spt USING spgist (point(px, py))")
    assert "spq" in eng.gist_indexes
    got = G.gist_search(
        eng, "spq", "contained", (-0.1, -0.1, 0.1, 0.1)
    ).count()
    assert got > 0
    eng.sql("CREATE TABLE pit AS SELECT o_orderkey AS k,"
            " o_totalprice AS p FROM orders WHERE o_orderkey <= 50")
    eng.sql("CREATE INDEX pidx ON pit (k) WHERE p > 1000")
    assert "pidx" in eng._btree_indexes


def test_poly_opclass_recheck(eng):
    """The lossy poly opclass (gist_poly_compress :925): MBR keys +
    exact ray-cast recheck must equal brute-force point-in-polygon on
    every row; the MBR phase must actually prune (a point outside a
    polygon's MBR is never rechecked); appends maintain incrementally
    like the other opclasses."""
    eng.sql(
        "CREATE TABLE gpoly AS SELECT vec_id, array("
        " CAST(element_at(embedding, 1) AS DOUBLE) + 0.03,"
        " CAST(element_at(embedding, 2) AS DOUBLE),"
        " CAST(element_at(embedding, 1) AS DOUBLE),"
        " CAST(element_at(embedding, 2) AS DOUBLE) + 0.02,"
        " CAST(element_at(embedding, 1) AS DOUBLE) - 0.03,"
        " CAST(element_at(embedding, 2) AS DOUBLE),"
        " CAST(element_at(embedding, 1) AS DOUBLE),"
        " CAST(element_at(embedding, 2) AS DOUBLE) - 0.02"
        ") AS poly FROM embeddings WHERE embedding IS NOT NULL"
    )
    eng.sql("CREATE INDEX gp_gist ON gpoly USING gist (poly(poly))")
    idx = eng.gist_indexes["gp_gist"]
    assert idx["kind"] == "poly"
    for px, py in [(0.0412, 0.0273), (0.0, 0.0), (-0.9, 0.5)]:
        got = sorted(
            r.doc_id
            for r in G.gist_poly_search(eng, "gp_gist", (px, py))
                      .collect()
        )
        # brute force: diamond |dx|/0.03 + |dy|/0.02 < 1 — an
        # independent closed form of the same geometry
        want = sorted(
            r.vec_id for r in eng.spark.table("gpoly").select(
                "vec_id",
                F.expr(
                    "abs(element_at(poly, 1) - 0.03 - "
                    f"{px}d) / 0.03d + "
                    "abs(element_at(poly, 2) - "
                    f"{py}d) / 0.02d AS m"
                ),
            ).collect() if r.m < 1.0
        )
        assert got == want, (px, py)
    assert idx["last_search"]["recheck"] is True
    # append: delta maintenance covers the new polygon
    eng.sql(
        "INSERT INTO gpoly SELECT 99991,"
        " array(0.93d, 0.9d, 0.9d, 0.92d, 0.87d, 0.9d, 0.9d, 0.88d)"
    )
    got = sorted(
        r.doc_id
        for r in G.gist_poly_search(eng, "gp_gist", (0.9, 0.9)).collect()
    )
    assert 99991 in got
    assert idx["last_maintenance"]["mode"] == "delta"
    # the SQL-text spelling routes through the same two-phase plan
    got_sql = sorted(
        r.vec_id for r in eng.sql(
            "SELECT vec_id FROM gpoly WHERE poly @> point(0.9, 0.9)"
        ).collect()
    )
    assert got_sql == got
