"""The index lifecycle shared by GIN, GiST and the ANN access method
(operators/index_lifecycle.py): storage that survives ALTER INDEX
RENAME, the DROP TABLE cascade, and the catalog of IVF and HNSW.

Each index owns a directory fixed at creation, so renaming an index and
then creating a new index under its old name must leave the renamed
index's layers untouched; dropping the new index must not reclaim
them either.  DROP TABLE drops every dependent index, btree included.
Two ANN indexes on one column are two catalog entries, and a CREATE
INDEX whose build fails leaves nothing behind.  HNSW search serves
shard graphs from a cache in the Python workers, which must never
answer with a graph that an append, a vacuum or a REINDEX replaced.
"""

from __future__ import annotations

import glob
import os

import pytest

from opengauss_vectordb_spark.engine import Engine
from opengauss_vectordb_spark.operators.gist_index import gist_search

from .conftest import SF_CORRECT


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, SF_CORRECT)
    e.managed_tables.root = str(tmp_path)
    return e


def test_gin_rename_then_same_name_recreate(eng):
    eng.sql("CREATE TABLE rn_a AS SELECT * FROM VALUES"
            " (1, 'alpha beta'), (2, 'beta gamma'), (3, 'delta')"
            " AS t(doc_id, body)")
    eng.sql("CREATE TABLE rn_b AS SELECT * FROM VALUES"
            " (7, 'beta epsilon') AS t(doc_id, body)")
    q = ("SELECT doc_id FROM rn_a"
         " WHERE to_tsvector(body) @@ to_tsquery('beta') ORDER BY doc_id")
    eng.sql("CREATE INDEX rn_ix ON rn_a USING gin (body)")
    eng.sql("ALTER INDEX rn_ix RENAME TO rn_ix_old")
    eng.sql("CREATE INDEX rn_ix ON rn_b USING gin (body)")
    # the renamed index still answers from its own postings
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2]
    assert "Index Scan using rn_ix_old" in "\n".join(
        r["QUERY PLAN"] for r in eng.sql(f"EXPLAIN {q}").collect()
    )
    assert (eng.gin_indexes["rn_ix_old"]["path"]
            != eng.gin_indexes["rn_ix"]["path"])
    eng.sql("DROP INDEX rn_ix")
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2]
    eng.sql("DROP INDEX rn_ix_old")


def test_gist_rename_then_same_name_recreate(eng):
    eng.sql("CREATE TABLE rg_a AS SELECT * FROM VALUES"
            " (1, 0.0, 0.0, 1.0, 1.0), (2, 5.0, 5.0, 6.0, 6.0),"
            " (3, 20.0, 20.0, 21.0, 21.0) AS t(rid, x1, y1, x2, y2)")
    eng.sql("CREATE TABLE rg_b AS SELECT * FROM VALUES"
            " (9, 100.0, 100.0, 101.0, 101.0) AS t(rid, x1, y1, x2, y2)")
    eng.sql("CREATE INDEX rg_ix ON rg_a USING gist (box(x1, y1, x2, y2))")
    eng.sql("ALTER INDEX rg_ix RENAME TO rg_ix_old")
    eng.sql("CREATE INDEX rg_ix ON rg_b USING gist (box(x1, y1, x2, y2))")

    def ids(name):
        return sorted(
            r.doc_id for r in gist_search(
                eng, name, "overlap", (0.0, 0.0, 10.0, 10.0)
            ).collect()
        )

    assert ids("rg_ix_old") == [1, 2]
    assert (eng.gist_indexes["rg_ix_old"]["path"]
            != eng.gist_indexes["rg_ix"]["path"])
    eng.sql("DROP INDEX rg_ix")
    assert ids("rg_ix_old") == [1, 2]
    eng.sql("DROP INDEX rg_ix_old")


def test_drop_table_drops_btree_indexes(eng):
    eng.sql("CREATE TABLE bt AS SELECT * FROM VALUES (1, 10), (2, 20)"
            " AS t(k, v)")
    eng.sql("CREATE INDEX bt_v ON bt (v)")

    def listed():
        return {r.indexname for r in
                eng.sql("SELECT * FROM pg_indexes").collect()}

    assert "bt_v" in listed()
    eng.sql("DROP TABLE bt")
    assert "bt_v" not in listed()
    assert "bt_v" not in eng._btree_indexes


def _indexes(eng):
    return {r.indexname: r.am for r in
            eng.sql("SELECT * FROM pg_indexes").collect()}


def _plan(eng, q):
    return "\n".join(r["QUERY PLAN"] for r in
                     eng.sql(f"EXPLAIN {q}").collect())


def test_two_ann_indexes_on_one_column(eng):
    from opengauss_vectordb_spark.vector.exact import knn as exact_knn

    q = [round(0.01 * i, 2) for i in range(64)]
    sel = ("SELECT vec_id FROM embeddings ORDER BY embedding <-> "
           f"'[{','.join(map(str, q))}]' LIMIT 5")
    exact = [r.vec_id for r in exact_knn(
        eng.table("embeddings"), "embedding", q, k=5, id_col="vec_id"
    ).collect()]
    ivf = ("CREATE INDEX i1 ON embeddings USING ivfflat"
           " (embedding vector_l2_ops) WITH (lists = 4)")
    eng.sql(ivf)
    eng.sql("CREATE INDEX h1 ON embeddings USING hnsw"
            " (embedding vector_l2_ops) WITH (m = 8, ef_construction = 32)")
    assert _indexes(eng) == {"i1": "IvfIndex", "h1": "HnswIndex"}
    assert "Index Scan using h1" in _plan(eng, sel)
    i1_dir, h1_dir = (eng.ann.indexes[n]["path"] for n in ("i1", "h1"))
    eng.sql("DROP INDEX h1")
    assert not os.path.exists(h1_dir)
    assert _indexes(eng) == {"i1": "IvfIndex"}
    assert "Index Scan using i1" in _plan(eng, sel)
    eng.sql("ALTER INDEX i1 RENAME TO i_old")
    eng.sql(ivf)
    eng.sql("DROP INDEX i1")
    assert _indexes(eng) == {"i_old": "IvfIndex"}
    assert os.path.isdir(i1_dir)
    assert eng.sql("REINDEX INDEX i_old").collect()[0].tag == "REINDEX"
    assert "Index Scan using i_old" in _plan(eng, sel)
    eng.sql("SET ivfflat.probes = 4")  # probes = lists: exact
    assert [r.vec_id for r in eng.sql(sel).collect()] == exact
    eng.sql("DROP INDEX i_old")
    assert not os.path.exists(i1_dir)
    assert _indexes(eng) == {}


def test_failed_create_index_leaves_nothing(eng):
    eng.sql("CREATE TABLE g AS SELECT * FROM VALUES (1, 'alpha beta')"
            " AS t(doc_id, body)")
    wh = eng._warehouse_dir()

    def dirs():
        return {p for sub in ("_gin", "_ann")
                for p in glob.glob(os.path.join(wh, sub, "*_bad_*"))}

    before = dirs()
    with pytest.raises(Exception, match="UNRESOLVED_COLUMN"):
        eng.sql("CREATE INDEX g_bad ON g USING gin (nope)")
    with pytest.raises(ValueError, match="lists"):
        eng.sql("CREATE INDEX e_bad ON embeddings USING ivfflat"
                " (embedding vector_l2_ops) WITH (lists = 0)")
    assert _indexes(eng) == {}
    assert dirs() == before


def test_datavec_readme_sequence(eng):
    """contrib/datavec/README.md on a managed table: vector literals
    INSERT into a vector(n) column, the exact ORDER BY runs, and each
    ANN index created afterwards serves a routed search that finds a
    row inserted after it.  DROP TABLE takes the indexes with it."""
    eng.sql("CREATE TABLE items (id bigserial PRIMARY KEY,"
            " embedding vector(3))")
    eng.sql("INSERT INTO items (embedding) VALUES ('[1,2,3]'), ('[4,5,6]')")
    eng.sql("INSERT INTO items VALUES ('[3,1,2]')")

    def ids(vec):
        return [r.id for r in eng.sql(
            f"SELECT id FROM items ORDER BY embedding <-> '{vec}' LIMIT 5"
        ).collect()]

    assert ids("[3,1,2]") == [3, 1, 2]
    for n, (am, opts) in enumerate(
            (("hnsw", ""), ("ivfflat", " WITH (lists = 2)")), start=4):
        eng.sql(f"CREATE INDEX items_{am} ON items USING {am}"
                f" (embedding vector_l2_ops){opts}")
        eng.sql(f"INSERT INTO items (embedding) VALUES ('[{n}0,{n}0,0]')")
        assert ids(f"[{n}0,{n}0,0]")[0] == n
        assert f"Index Scan using items_{am}" in _plan(
            eng, f"SELECT id FROM items ORDER BY embedding <-> '[{n},0,0]'"
                 " LIMIT 5")
    # a DELETE rewrites the table: the next routed search rebuilds
    eng.sql("DELETE FROM items WHERE id = 5")
    assert 5 not in ids("[50,50,0]")
    dirs = [e["path"] for e in eng.ann.indexes.values()]
    assert len(dirs) == 2 and all(os.path.isdir(d) for d in dirs)
    eng.sql("DROP TABLE items")
    assert _indexes(eng) == {}
    assert not any(os.path.exists(d) for d in dirs)


def test_hnsw_worker_cache_never_serves_a_replaced_graph(eng, tmp_path):
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.vector.hnsw import HnswIndex

    spark = eng.spark
    eng.sql("CREATE TABLE hc AS SELECT vec_id, embedding FROM embeddings"
            " WHERE vec_id < 80")
    eng.sql("CREATE INDEX hc_hnsw ON hc USING hnsw"
            " (embedding vector_l2_ops) WITH (m = 8)")
    idx = eng.ann.lookup("hc", "embedding")
    far = [7.0] * 64

    def ids(index, ef=None, k=5):
        return [(r.id, r.distance)
                for r in index.search(spark, far, k=k, ef_search=ef).collect()]

    warm = ids(idx)
    assert ids(idx) == warm  # served warm
    idx.append(spark, spark.createDataFrame(
        [(100000, far)], "vec_id BIGINT, embedding ARRAY<FLOAT>"),
        "embedding", "vec_id")
    assert ids(idx)[0] == (100000, 0.0)
    idx.vacuum_delete(spark, F.col("id") == 100000)
    for _ in range(2):
        assert 100000 not in [i for i, _ in ids(idx, k=100)]
    assert ids(idx) == warm
    eng.sql("REINDEX INDEX hc_hnsw")
    rebuilt = eng.ann.lookup("hc", "embedding")
    fresh = HnswIndex.build(eng.sql("SELECT * FROM hc"), "embedding",
                            str(tmp_path / "fresh"), id_col="vec_id", m=8)
    for ef in (None, 10):
        assert ids(rebuilt, ef, k=20) == ids(fresh, ef, k=20)
