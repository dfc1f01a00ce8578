"""The index lifecycle shared by GIN and GiST (operators/index_lifecycle.py):
storage that survives ALTER INDEX RENAME, and the DROP TABLE cascade.

Each index owns a directory fixed at creation, so renaming an index and
then creating a new index under its old name must leave the renamed
index's layers untouched; dropping the new index must not reclaim
them either.  DROP TABLE drops every dependent index, btree included.
"""

from __future__ import annotations

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
