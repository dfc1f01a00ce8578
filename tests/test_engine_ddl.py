"""The reference's index DDL through Engine.sql — a datavec user's
CREATE INDEX / DROP INDEX statements (README.md:75) must run verbatim,
build the index, register it for query-shape routing, and deregister on
drop."""

from __future__ import annotations

import os

import numpy as np
import pytest

from opengauss_vectordb_spark.engine import Engine

from .conftest import SF_CORRECT


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark=spark, sf_dir=SF_CORRECT)


def test_create_ivfflat_index_ddl(engine):
    out = engine.sql(
        "CREATE INDEX emb_ivf ON embeddings USING ivfflat "
        "(embedding vector_l2_ops) WITH (lists = 8)"
    ).collect()
    assert out[0].tag == "CREATE INDEX" and out[0].metric == "l2"
    idx = engine.ann.lookup("embeddings", "embedding")
    assert idx is not None and idx.lists == 8
    # routed search at probes=lists is exact: compare against brute force
    import math

    q = [round(math.sin(i + 1.0), 4) for i in range(64)]
    routed = engine.knn(
        "embeddings", "embedding", q, k=5, id_col="vec_id", probes=8
    ).collect()
    from opengauss_vectordb_spark.vector.exact import knn as exact_knn

    exact = exact_knn(
        engine.table("embeddings"), "embedding", q, k=5, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    dropped = engine.sql("DROP INDEX emb_ivf").collect()
    assert dropped[0].existed is True
    assert engine.ann.lookup("embeddings", "embedding") is None


def test_create_hnsw_index_ddl(engine):
    out = engine.sql(
        "CREATE INDEX emb_hnsw ON embeddings USING hnsw "
        "(embedding vector_l2_ops) WITH (m = 8, ef_construction = 32)"
    ).collect()
    assert out[0].am == "hnsw"
    idx = engine.ann.lookup("embeddings", "embedding")
    from opengauss_vectordb_spark.vector.hnsw import HnswIndex

    assert isinstance(idx, HnswIndex) and idx.m == 8
    import math

    q = [round(math.cos(i + 1.0), 4) for i in range(64)]
    routed = engine.ann.topk(
        engine.spark, "embeddings", engine.table("embeddings"), "embedding",
        q, k=5, metric="l2", id_col="vec_id", ef_search=None,
    ).collect()
    from opengauss_vectordb_spark.vector.exact import knn as exact_knn

    exact = exact_knn(
        engine.table("embeddings"), "embedding", q, k=5, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    engine.sql("DROP INDEX emb_hnsw")


def test_set_guc_workflow(engine):
    """The reference's session workflow: SET ivfflat.probes = n, then
    query — the GUC becomes knn()'s default probe count."""
    out = engine.sql("SET ivfflat.probes = 8").collect()
    assert out[0].tag == "SET" and out[0].value == 8
    assert engine._gucs["ivfflat.probes"] == 8
    engine.sql(
        "CREATE INDEX guc_ivf ON embeddings USING ivfflat "
        "(embedding vector_l2_ops) WITH (lists = 8)"
    )
    import math

    q = [round(math.sin(i + 1.0), 4) for i in range(64)]
    # probes defaulted from the GUC = lists → exact
    routed = engine.knn(
        "embeddings", "embedding", q, k=5, id_col="vec_id"
    ).collect()
    from opengauss_vectordb_spark.vector.exact import knn as exact_knn

    exact = exact_knn(
        engine.table("embeddings"), "embedding", q, k=5, id_col="vec_id"
    ).collect()
    assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
    engine.sql("DROP INDEX guc_ivf")
    engine._gucs.clear()


def test_canonical_ann_text_routes_after_create_index(engine):
    """The reference workflow end-to-end in SQL text: the canonical
    ORDER BY col <-> '[...]' LIMIT k query runs exact before CREATE
    INDEX, and the SAME text routes through the index afterward — at
    probes=lists both answers are identical."""
    import math

    q = [round(math.sin(i + 1.0), 4) for i in range(64)]
    lit = "[" + ",".join(str(v) for v in q) + "]"
    text = (
        f"SELECT vec_id, label FROM embeddings "
        f"ORDER BY embedding <-> '{lit}' LIMIT 5"
    )
    exact = engine.sql(text).collect()  # no index: translate path
    engine.sql(
        "CREATE INDEX route_ivf ON embeddings USING ivfflat "
        "(embedding vector_l2_ops) WITH (lists = 8)"
    )
    engine.sql("SET ivfflat.probes = 8")
    try:
        routed = engine.sql(text).collect()
        assert [r.vec_id for r in routed] == [r.vec_id for r in exact]
        # WHERE quals ride into the pruned scan (filtered ANN)
        filtered = engine.sql(
            f"SELECT vec_id, label FROM embeddings WHERE label = 3 "
            f"ORDER BY embedding <-> '{lit}' LIMIT 5"
        ).collect()
        assert all(r.label == 3 for r in filtered) and len(filtered) == 5
    finally:
        engine.sql("DROP INDEX route_ivf")
        engine._gucs.clear()
    # metric mismatch (cosine operator, l2 index gone) falls through to
    # the exact translate path without error
    cos = engine.sql(
        f"SELECT vec_id FROM embeddings ORDER BY embedding <=> '{lit}' LIMIT 3"
    ).collect()
    assert len(cos) == 3


def test_drop_missing_index_reports_not_existed(engine):
    out = engine.sql("DROP INDEX IF EXISTS nope").collect()
    assert out[0].existed is False


def test_unknown_opclass_raises(engine):
    with pytest.raises(ValueError, match="operator class"):
        engine.sql(
            "CREATE INDEX bad ON embeddings USING ivfflat "
            "(embedding vector_bogus_ops)"
        )


def test_copy_statement_errors(spark):
    """COPY FROM into a missing table and unknown formats must refuse
    (copy.cpp errors on both) — never silently create or skip."""
    import pytest as _pytest

    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    with _pytest.raises(KeyError):
        eng.sql("COPY nosuch FROM '/tmp/never' (FORMAT csv)")
    with _pytest.raises(ValueError):
        eng.sql("COPY orders TO '/tmp/never' (FORMAT parquet)")


def test_copy_text_format_roundtrip(spark, tmp_path):
    """COPY TO/FROM (FORMAT text): tab delimiter, \\N nulls, no header
    — the copy.cpp text defaults — must round-trip rows exactly."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE t_src AS SELECT o_orderkey,"
        " CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END"
        " AS st FROM orders WHERE o_orderkey <= 60"
    )
    eng.sql(f"COPY t_src TO '{tmp_path}/txt' (FORMAT text)")
    eng.sql(
        "CREATE TABLE t_dst AS SELECT o_orderkey,"
        " o_orderstatus AS st FROM orders LIMIT 0"
    )
    tag = eng.sql(f"COPY t_dst FROM '{tmp_path}/txt' (FORMAT text)")
    assert tag.collect()[0].tag == "COPY"
    src = {tuple(r) for r in eng.sql("SELECT * FROM t_src").collect()}
    dst = {tuple(r) for r in eng.sql("SELECT * FROM t_dst").collect()}
    assert src == dst and len(src) > 0
    assert any(r[1] is None for r in dst)  # NULLs survived \N encoding


def test_pg_stat_statements(spark):
    """contrib/pg_stat_statements analogue: literals normalize to
    parameter markers so repeated shapes share one counter, and the
    view is reachable through its SQL name."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql("SELECT count(*) AS n FROM orders WHERE o_orderkey = 1")
    eng.sql("SELECT count(*) AS n FROM orders WHERE o_orderkey = 2")
    eng.sql("SELECT o_orderstatus FROM orders WHERE o_orderstatus = 'F' LIMIT 1")
    stats = {r.query: r.calls for r in
             eng.sql("SELECT * FROM pg_stat_statements").collect()}
    assert stats["SELECT count(*) AS n FROM orders WHERE o_orderkey = ?"] == 2
    assert stats["SELECT o_orderstatus FROM orders WHERE o_orderstatus = ? LIMIT ?"] == 1
    # the stats query itself is not self-recorded
    assert not any("pg_stat_statements" in q for q in stats)


def test_vacuum_compacts_managed_table(spark, tmp_path):
    """VACUUM <table> (the VACUUM FULL rewrite, vacuum.cpp:8): after
    many small INSERTs the file count must drop to the size-targeted
    minimum while every row survives, and readers see the swapped
    snapshot through the same view name."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE vt AS SELECT o_orderkey, o_orderstatus"
        " FROM orders WHERE o_orderkey <= 40"
    )
    for lo in (41, 61, 81):
        eng.sql(
            "INSERT INTO vt SELECT o_orderkey, o_orderstatus FROM orders"
            f" WHERE o_orderkey > {lo - 1} AND o_orderkey <= {lo + 19}"
        )
    n_before = eng.sql("SELECT COUNT(*) AS n FROM vt").collect()[0].n
    tag = eng.sql("VACUUM vt").collect()[0]
    assert tag.tag == "VACUUM" and tag.files_after < tag.files_before
    assert tag.files_after == 1  # tiny table → one target-size file
    assert eng.sql("SELECT COUNT(*) AS n FROM vt").collect()[0].n == n_before
    # unknown table falls through to Spark's parser (errors there), not
    # a silent no-op
    import pytest as _pytest

    with _pytest.raises(Exception):
        eng.sql("VACUUM no_such_table").collect()


def test_truncate_and_cluster_statements(spark, tmp_path):
    """TRUNCATE empties but keeps the table; CLUSTER ... ON (col)
    rewrites it in key order so each file owns a disjoint key range
    (cluster.cpp's index-order rewrite)."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE ct AS SELECT o_orderkey, o_totalprice FROM orders"
        " WHERE o_orderkey <= 400"
    )
    tag = eng.sql("CLUSTER ct ON (o_orderkey)").collect()[0]
    assert tag.tag == "CLUSTER" and tag.key == "o_orderkey"
    n = eng.sql("SELECT COUNT(*) AS n FROM ct").collect()[0].n
    assert n > 0
    # per-file key ranges must be disjoint after clustering
    import pyspark.sql.functions as F

    df = spark.read.parquet(str(tmp_path / "ct" / "data"))
    ranges = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))

    eng.sql("TRUNCATE ct")
    assert eng.sql("SELECT COUNT(*) AS n FROM ct").collect()[0].n == 0
    eng.sql("INSERT INTO ct SELECT o_orderkey, o_totalprice FROM orders"
            " WHERE o_orderkey <= 10")
    assert eng.sql("SELECT COUNT(*) AS n FROM ct").collect()[0].n > 0


def test_reindex_statement(spark, tmp_path):
    """REINDEX INDEX <name>: rebuilds the registered IVF index in place
    and searches still return exact results at probes=lists."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE INDEX rix ON embeddings USING ivfflat"
        " (embedding vector_l2_ops) WITH (lists = 8)"
    )
    before = eng.ann.lookup("embeddings", "embedding")
    tag = eng.sql("REINDEX INDEX rix").collect()[0]
    assert tag.tag == "REINDEX"
    after = eng.ann.lookup("embeddings", "embedding")
    assert after is not None and after is not before
    eng.sql("DROP INDEX rix")


def test_reindex_hnsw(spark):
    """REINDEX over an hnsw index (round 11 — the r10 verdict's
    missing-item #5): rebuilds the shard graphs from scratch with the
    index's own parameters (hnswbuild.cpp is a from-scratch build in
    the reference too) and the rebuilt index returns the same top-k
    as the pre-REINDEX one at full-beam settings."""
    import math

    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.vector.hnsw import HnswIndex

    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE INDEX rhx ON embeddings USING hnsw"
        " (embedding vector_l2_ops) WITH (m = 8, ef_construction = 32)"
    )
    q = "[" + ",".join(
        str(round(math.sin(i + 0.5), 4)) for i in range(64)
    ) + "]"
    sel = (f"SELECT vec_id FROM embeddings ORDER BY embedding <-> '{q}'"
           " LIMIT 5")
    eng.sql("SET hnsw.ef_search = 200")
    fresh = [r.vec_id for r in eng.sql(sel).collect()]
    before = eng.ann.lookup("embeddings", "embedding")
    tag = eng.sql("REINDEX INDEX rhx").collect()[0]
    assert tag.tag == "REINDEX"
    after = eng.ann.lookup("embeddings", "embedding")
    assert isinstance(after, HnswIndex) and after is not before
    assert after.m == 8 and after.ef_construction == 32
    rebuilt = [r.vec_id for r in eng.sql(sel).collect()]
    assert rebuilt == fresh
    eng.sql("DROP INDEX rhx")


def test_show_guc(spark):
    """SHOW reads back session GUCs with the reference defaults."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    assert eng.sql("SHOW ivfflat.probes").collect()[0].value == 1
    assert eng.sql("SHOW hnsw.ef_search").collect()[0].value == 40
    eng.sql("SET ivfflat.probes = 7")
    assert eng.sql("SHOW ivfflat.probes").collect()[0].value == 7


def test_datavec_guc_spellings(spark, tmp_path):
    """Every spelling that sets ivfflat.probes or hnsw.ef_search stores
    an int: the routed IVF and HNSW searches answer as after
    ``SET name = n`` and SHOW reads the int back.  Values outside
    pgvector's ranges and non-integers raise naming the parameter."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE gv (id bigserial PRIMARY KEY, embedding vector(3))")
    vecs = np.random.default_rng(7).normal(size=(40, 3)).round(3)
    eng.sql("INSERT INTO gv (embedding) VALUES " + ", ".join(
        "('[" + ",".join(map(str, v)) + "]')" for v in vecs))
    eng.sql("CREATE INDEX gv_ivf ON gv USING ivfflat"
            " (embedding vector_l2_ops) WITH (lists = 4)")
    eng.sql("CREATE INDEX gv_hnsw ON gv USING hnsw"
            " (embedding vector_cosine_ops)")
    for name, n, hi, op in (("ivfflat.probes", 2, 32768, "<->"),
                            ("hnsw.ef_search", 16, 1000, "<=>")):
        search = f"SELECT id FROM gv ORDER BY embedding {op} '[0.3,-0.2,0.1]' LIMIT 5"
        eng.sql(f"SET {name} = {n}")
        want = [r.id for r in eng.sql(search).collect()]
        assert len(want) == 5
        for stmt in (f"SET {name} TO {n}", f"SET {name} = '{n}'",
                     f"SET SESSION {name} TO {n}", f"SET LOCAL {name} = {n}",
                     f"ALTER SYSTEM SET {name} TO '{n}'",
                     f"SELECT set_config('{name}', '{n}', false)"):
            eng.sql(f"RESET {name}")
            eng.sql(stmt)
            assert eng._gucs[name] == n, stmt
            assert eng.sql(f"SHOW {name}").collect()[0].value == n
            assert [r.id for r in eng.sql(search).collect()] == want, stmt
        for bad in ("0", str(hi + 1), "'abc'"):
            with pytest.raises(ValueError, match=name):
                eng.sql(f"SET {name} = {bad}")
        assert eng._gucs[name] == n
    eng.sql("DROP TABLE gv")


def test_knn_default_probes_match_the_sql_text(spark, tmp_path):
    """With ivfflat.probes unset, knn() probes what the canonical SQL
    text does (the GUC default, 1 list), so both return the same ids."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE INDEX kd_ivf ON embeddings USING ivfflat"
            " (embedding vector_l2_ops) WITH (lists = 40)")
    rows = eng.table("embeddings").orderBy("vec_id").limit(5).collect()
    for r in rows:
        q = [round(x + 0.05, 4) for x in r.embedding]
        text = ("SELECT vec_id FROM embeddings ORDER BY embedding <-> '["
                + ",".join(map(str, q)) + "]' LIMIT 10")
        want = [x.vec_id for x in eng.sql(text).collect()]
        got = eng.knn("embeddings", "embedding", q, k=10, id_col="vec_id")
        assert [x.vec_id for x in got.collect()] == want, r.vec_id
    eng.sql("DROP INDEX kd_ivf")


def test_pg_stat_statements_names_the_handler(spark, tmp_path):
    """pg_stat_statements' handler column names the statement-table row
    that served each statement, including the ANN router and the
    spark.sql fall-through; total_ms and mean_ms carry the time
    Engine.sql spent serving it."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE hv (id bigserial PRIMARY KEY, embedding vector(3))")
    eng.sql("INSERT INTO hv (embedding) VALUES ('[1,2,3]'), ('[4,5,6]')")
    eng.sql("SET hnsw.ef_search TO 20")
    eng.sql("SELECT id FROM hv ORDER BY embedding <-> '[1,2,3]' LIMIT 1"
            ).collect()
    eng.sql("SELECT count(*) AS n FROM orders").collect()
    for k in (7, 9):  # one normalized statement, two calls
        eng.sql(f"SELECT count(*) AS n FROM orders WHERE o_orderkey > {k}")
    stats = eng.sql("SELECT * FROM pg_stat_statements").collect()
    handler = {r.query: r.handler for r in stats}
    for r in stats:
        assert r.total_ms >= 0 and r.mean_ms >= 0, r
        assert r.mean_ms == pytest.approx(r.total_ms / r.calls), r
    assert {r.calls for r in stats} == {1, 2}
    assert handler["CREATE TABLE hv (id bigserial PRIMARY KEY,"
                   " embedding vector(?))"] == "tables"
    assert handler["SET hnsw.ef_search TO ?"] == "guc_set"
    assert handler["SELECT id FROM hv ORDER BY embedding <-> ? LIMIT ?"
                   ] == "ann_route"
    assert handler["SELECT count(*) AS n FROM orders"] == "spark_sql"
    eng.sql("DROP TABLE hv")


def test_catalog_views(spark, tmp_path):
    """pg_tables / pg_indexes introspection (pg_catalog views psql's
    \\d family reads): catalog + managed tables, registered ANN
    indexes with their access method."""
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE mt AS SELECT 1 AS one")
    tabs = {(r.tablename, r.origin)
            for r in eng.sql("SELECT * FROM pg_tables").collect()}
    assert ("orders", "catalog") in tabs and ("mt", "managed") in tabs
    eng.sql(
        "CREATE INDEX cvix ON embeddings USING ivfflat"
        " (embedding vector_l2_ops) WITH (lists = 4)"
    )
    idx = {(r.indexname, r.tablename, r.am)
           for r in eng.sql("SELECT * FROM pg_indexes").collect()}
    assert ("cvix", "embeddings", "IvfIndex") in idx


def test_partitioned_ctas_prunes_and_vacuums(spark, tmp_path):
    """CREATE TABLE ... PARTITION BY (col) AS: the write lays one
    directory per key value (nodePartIterator's pruning source), an
    equality filter reads only that directory, INSERT INTO keeps the
    layout, and VACUUM compacts within partitions without destroying
    it."""
    import pyspark.sql.functions as F

    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE pt PARTITION BY (o_orderstatus) AS"
        " SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders"
        " WHERE o_orderkey <= 300"
    )
    base = tmp_path / "pt" / "data"
    pdirs = {p.name for p in base.iterdir() if p.name.startswith("o_orderstatus=")}
    assert len(pdirs) >= 2
    # pruned read: only the matching partition's files are touched
    got = (
        spark.read.parquet(str(base))
        .filter(F.col("o_orderstatus") == "F")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    assert got and all("o_orderstatus=F" in r.f for r in got)
    eng.sql(
        "INSERT INTO pt SELECT o_orderkey, o_totalprice, o_orderstatus"
        " FROM orders WHERE o_orderkey > 300 AND o_orderkey <= 400"
    )
    n = eng.sql("SELECT COUNT(*) AS n FROM pt").collect()[0].n
    tag = eng.sql("VACUUM pt").collect()[0]
    assert tag.files_after <= tag.files_before
    assert eng.sql("SELECT COUNT(*) AS n FROM pt").collect()[0].n == n
    # layout survived the compaction
    assert {p.name for p in base.iterdir()
            if p.name.startswith("o_orderstatus=")} == pdirs


def test_create_function_language_sql(spark):
    """PG CREATE FUNCTION ... LANGUAGE SQL routes to a Spark SQL UDF
    (commands/functioncmds.cpp; earthdistance--1.0.sql:5-11 idiom):
    $N positional refs, STRICT null propagation, named params, and
    RETURNS TABLE all work through Engine.sql."""
    eng = Engine(spark, SF_CORRECT)
    tag = eng.sql(
        "CREATE FUNCTION t_half(float8) RETURNS float8"
        " AS 'SELECT $1 / 2.0' LANGUAGE SQL IMMUTABLE STRICT"
    ).collect()[0]
    assert (tag.tag, tag.function) == ("CREATE FUNCTION", "t_half")
    assert "t_half" in eng.sql_functions
    row = eng.sql(
        "SELECT t_half(8.0) AS a, t_half(CAST(NULL AS DOUBLE)) AS b"
    ).collect()[0]
    assert row.a == 4.0 and row.b is None  # STRICT → NULL on NULL input
    # named params, dollar-quoted body, body referencing a catalog table
    eng.sql(
        "CREATE OR REPLACE FUNCTION t_nation_name(k int) RETURNS text AS"
        " $$ SELECT n_name FROM nation WHERE n_nationkey = k $$"
        " LANGUAGE SQL"
    )
    got = eng.sql("SELECT t_nation_name(3) AS nm").collect()[0].nm
    want = eng.table("nation").filter("n_nationkey = 3").collect()[0].n_name
    assert got == want
    # RETURNS TABLE → Spark table function
    eng.sql(
        "CREATE FUNCTION t_small_nations(lim int)"
        " RETURNS TABLE(k int, nm text) AS"
        " $$ SELECT n_nationkey, n_name FROM nation"
        "    WHERE n_nationkey < lim $$ LANGUAGE SQL"
    )
    rows = eng.sql(
        "SELECT * FROM t_small_nations(4) ORDER BY k"
    ).collect()
    assert [r.k for r in rows] == [0, 1, 2, 3]
    # DROP FUNCTION deregisters; IF EXISTS tolerates missing
    assert eng.sql("DROP FUNCTION t_half").collect()[0].existed
    assert "t_half" not in eng.sql_functions
    assert not eng.sql(
        "DROP FUNCTION IF EXISTS never_was(int)"
    ).collect()[0].existed
    eng.sql("DROP FUNCTION t_nation_name")
    eng.sql("DROP FUNCTION t_small_nations(int)")


def test_create_function_setof_raises(spark):
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(NotImplementedError, match="SETOF"):
        eng.sql(
            "CREATE FUNCTION bad(k int) RETURNS SETOF text"
            " AS 'SELECT n_name FROM nation' LANGUAGE SQL"
        )


def test_create_aggregate_sql_transitions(spark):
    """CREATE AGGREGATE, SQL-transition subset (DefineAggregate,
    catalog/pg_aggregate.cpp; the datavec avg(vector) declaration
    shape): SFUNC/STYPE/FINALFUNC/INITCOND compile to aggregate()
    folds.  Pins the PG strict-TRANSITION rule (null input keeps
    state, null state adopts the first input — nodeAgg.cpp, distinct
    from strict-scalar null propagation), the empty-group INITCOND
    pass-through, array INITCOND parsing, the built-in-SFUNC
    pass-through, and the refusals: DISTINCT in the call, a
    relation-reading SFUNC body, strict SFUNC with no INITCOND over
    a state type that differs from the input."""
    eng = Engine(spark, SF_CORRECT)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    # strict sfunc + no INITCOND: first non-null input seeds the
    # state; null inputs are SKIPPED, not propagated (my_max over a
    # column with nulls must equal MAX)
    eng.sql(
        "CREATE FUNCTION gmax_step(acc bigint, x bigint)"
        " RETURNS bigint AS 'SELECT greatest(acc, x)'"
        " LANGUAGE SQL STRICT"
    )
    eng.sql("CREATE AGGREGATE gmax(bigint)"
            " (SFUNC = gmax_step, STYPE = bigint)")
    assert one(
        "SELECT gmax(v) FROM (SELECT CAST(NULL AS BIGINT) AS v"
        " UNION ALL SELECT 3 UNION ALL SELECT 7 UNION ALL SELECT 5)"
    ) == 7
    # all-null group → NULL (PG's agg-over-no-transitions rule)
    assert one("SELECT gmax(v) FROM (SELECT CAST(NULL AS BIGINT)"
               " AS v)") is None
    # empty group with INITCOND → finalfunc(initcond)
    eng.sql(
        "CREATE FUNCTION cnt_step(acc bigint, x string)"
        " RETURNS bigint AS 'SELECT acc + 1' LANGUAGE SQL"
    )
    eng.sql("CREATE AGGREGATE my_count(text) (SFUNC = cnt_step,"
            " STYPE = bigint, INITCOND = '0')")
    assert one("SELECT my_count(n_name) FROM nation"
               " WHERE n_nationkey < 0") == 0
    # non-strict sfunc SEES null inputs (counts them, unlike COUNT(col))
    assert one(
        "SELECT my_count(v) FROM (SELECT CAST(NULL AS STRING) AS v"
        " UNION ALL SELECT 'a')"
    ) == 2
    # refusals
    with pytest.raises(NotImplementedError, match="DISTINCT"):
        eng.sql("SELECT my_count(DISTINCT n_name) FROM nation")
    eng.sql(
        "CREATE FUNCTION rel_step(acc bigint, x bigint)"
        " RETURNS bigint AS"
        " 'SELECT acc + (SELECT COUNT(*) FROM nation WHERE"
        " n_nationkey = x)' LANGUAGE SQL"
    )
    with pytest.raises(NotImplementedError, match="FROM"):
        eng.sql("CREATE AGGREGATE badagg(bigint)"
                " (SFUNC = rel_step, STYPE = bigint)")
    with pytest.raises(ValueError, match="INITCOND"):
        eng.sql("CREATE AGGREGATE badagg2(text)"
                " (SFUNC = gmax_step, STYPE = bigint)")
    # built-in SFUNC pass-through (PG's C-catalog functions like
    # int4larger have Spark built-in equivalents)
    eng.sql("CREATE AGGREGATE bmax(bigint)"
            " (SFUNC = greatest, STYPE = bigint, INITCOND = '0')")
    assert one("SELECT bmax(n_nationkey) FROM nation") == 24
    # DROP AGGREGATE
    assert eng.sql("DROP AGGREGATE gmax(bigint)").collect()[0].existed
    with pytest.raises(Exception, match="gmax"):
        # unbound name surfaces as the analyzer's unresolved-routine
        eng.sql("SELECT gmax(n_nationkey) FROM nation")
    for fn in ("gmax_step", "cnt_step", "rel_step"):
        eng.sql(f"DROP FUNCTION {fn}")
    eng.sql("DROP AGGREGATE my_count(text)")
    eng.sql("DROP AGGREGATE IF EXISTS bmax(bigint)")
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("DROP AGGREGATE never_was(int)")


def test_trigger_ddl_edges(spark):
    """contrib/spi trigger routing edges: unknown procedure, trigger on
    a non-managed table, DROP of a missing trigger."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS trg_t")
    eng.sql("CREATE TABLE trg_t AS SELECT n_nationkey, n_name FROM nation")
    with pytest.raises(NotImplementedError, match="not supported"):
        eng.sql(
            "CREATE TRIGGER bad BEFORE INSERT ON trg_t"
            " FOR EACH ROW EXECUTE PROCEDURE explode_rows(x)"
        )
    with pytest.raises(KeyError, match="managed tables"):
        eng.sql(
            "CREATE TRIGGER bad BEFORE INSERT ON nation"
            " FOR EACH ROW EXECUTE PROCEDURE moddatetime(x)"
        )
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("DROP TRIGGER nope ON trg_t")
    # UPDATE-only triggers must NOT fire on the INSERT path
    eng.sql(
        "CREATE TRIGGER upd_only BEFORE UPDATE ON trg_t"
        " FOR EACH ROW EXECUTE PROCEDURE moddatetime(n_name)"
    )
    eng.trigger_clock = "2024-02-02 00:00:00"
    eng.sql("INSERT INTO trg_t VALUES (990, 'untouched')")
    got = eng.sql(
        "SELECT n_name FROM trg_t WHERE n_nationkey = 990"
    ).collect()[0].n_name
    assert got == "untouched"
    eng.sql("DROP TABLE trg_t")


def test_dblink_and_auto_explain(spark):
    """contrib/dblink: isolated-session remote catalog; contrib/
    auto_explain: plan capture on the SELECT paths."""
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(KeyError, match="not established"):
        eng.sql("SELECT * FROM dblink('nope', 'SELECT 1')")
    eng.sql("SELECT dblink_connect('r1', 'dir=/root/testdata/sf0.001')")
    # remote runs against ITS catalog, not the local one
    rn = eng.sql(
        "SELECT * FROM dblink('r1', 'SELECT COUNT(*) AS n FROM orders')"
        " AS t(n)"
    ).collect()[0].n
    ln = eng.sql("SELECT COUNT(*) AS n FROM orders").collect()[0].n
    assert rn < ln  # sf0.001 vs sf0.01
    # local temp views untouched by the remote session's registration
    assert eng.table("orders").count() == ln
    eng.sql("SELECT dblink_disconnect('r1')")
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("SELECT dblink_disconnect('r1')")
    eng.auto_explain = True
    eng.sql("SELECT n_name FROM nation WHERE n_nationkey = 1")
    stmt, plan = eng.plan_log[-1]
    assert "n_nationkey = 1" in stmt and "Physical Plan" in plan


def test_update_delete_statements(spark):
    """ModifyTable UPDATE/DELETE routing: command tags with affected
    counts, NULL-condition keep semantics, refint on updated fk
    columns, and full-table DELETE."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS ud_t")
    eng.sql(
        "CREATE TABLE ud_t AS SELECT n_nationkey, n_name, n_regionkey"
        " FROM nation"
    )
    tag = eng.sql(
        "UPDATE ud_t SET n_name = concat(n_name, '!')"
        " WHERE n_nationkey < 5"
    ).collect()[0]
    assert (tag.tag, tag.rows) == ("UPDATE", 5)
    got = {r.n_nationkey: r.n_name for r in eng.sql(
        "SELECT n_nationkey, n_name FROM ud_t WHERE n_nationkey < 7"
    ).collect()}
    assert got[0].endswith("!") and not got[6].endswith("!")
    # refint fires only when the fk column is in the SET list
    eng.sql(
        "CREATE TRIGGER fk_r BEFORE UPDATE ON ud_t FOR EACH ROW"
        " EXECUTE PROCEDURE check_primary_key('n_regionkey', 'region',"
        " 'r_regionkey')"
    )
    eng.sql("UPDATE ud_t SET n_name = 'x' WHERE n_nationkey = 9")  # ok
    with pytest.raises(ValueError, match="check_primary_key"):
        eng.sql("UPDATE ud_t SET n_regionkey = 99 WHERE n_nationkey = 9")
    tag = eng.sql("DELETE FROM ud_t WHERE n_regionkey = 0").collect()[0]
    assert tag.tag == "DELETE" and tag.rows == 5
    assert eng.sql("SELECT COUNT(*) AS n FROM ud_t").collect()[0].n == 20
    tag = eng.sql("DELETE FROM ud_t").collect()[0]
    assert tag.rows == 20
    assert eng.sql("SELECT COUNT(*) AS n FROM ud_t").collect()[0].n == 0
    eng.sql("DROP TABLE ud_t")


def test_rls_policy_edges(spark):
    """RLS edges: policies OR together, DROP POLICY restores default
    deny, policies only attach to managed tables."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS rlse_t")
    eng.sql(
        "CREATE TABLE rlse_t AS SELECT n_nationkey, n_regionkey"
        " FROM nation"
    )
    eng.sql("ALTER TABLE rlse_t ENABLE ROW LEVEL SECURITY")
    with pytest.raises(KeyError, match="managed tables"):
        eng.sql("CREATE POLICY p ON nation USING (TRUE)")
    eng.sql("CREATE POLICY p_r0 ON rlse_t TO analyst"
            " USING (n_regionkey = 0)")
    eng.sql("CREATE POLICY p_r1 ON rlse_t TO analyst"
            " USING (n_regionkey = 1)")
    eng.sql("SET ROLE analyst")
    n = eng.sql("SELECT COUNT(*) AS n FROM rlse_t").collect()[0].n
    assert n == 10  # two 5-nation regions, policies OR'd
    eng.sql("DROP POLICY p_r0 ON rlse_t")
    n = eng.sql("SELECT COUNT(*) AS n FROM rlse_t").collect()[0].n
    assert n == 5
    eng.sql("DROP POLICY p_r1 ON rlse_t")
    assert eng.sql("SELECT COUNT(*) AS n FROM rlse_t").collect()[0].n == 0
    eng.sql("RESET ROLE")
    assert eng.sql("SELECT COUNT(*) AS n FROM rlse_t").collect()[0].n == 25
    eng.sql("DROP TABLE rlse_t")


def test_masking_role_scoped(spark):
    """FILTER ON ROLES scopes a masking policy: the named role sees
    masks, other roles and the owner see clear text."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS mrs_t")
    eng.sql("CREATE TABLE mrs_t AS SELECT n_nationkey, n_name FROM nation")
    eng.sql("CREATE RESOURCE LABEL mrs_lb ADD COLUMN(mrs_t.n_name)")
    eng.sql(
        "CREATE MASKING POLICY mrs_p maskall ON LABEL(mrs_lb)"
        " FILTER ON ROLES(auditor)"
    )
    eng.sql("SET ROLE auditor")
    masked = eng.sql(
        "SELECT n_name FROM mrs_t WHERE n_nationkey = 1"
    ).collect()[0].n_name
    assert set(masked) == {"x"}
    eng.sql("SET ROLE analyst")  # not in the policy's role filter
    clear = eng.sql(
        "SELECT n_name FROM mrs_t WHERE n_nationkey = 1"
    ).collect()[0].n_name
    assert clear != masked and "x" not in clear.lower()
    assert not eng.sql("DROP MASKING POLICY nope").collect()[0].existed
    eng.sql("DROP MASKING POLICY mrs_p")
    eng.sql("RESET ROLE")
    eng.sql("DROP TABLE mrs_t")


def test_pg_policies_view(spark):
    """pg_policies catalog view lists RLS and masking policies."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS pol_t")
    eng.sql("CREATE TABLE pol_t AS SELECT n_nationkey, n_name FROM nation")
    eng.sql("ALTER TABLE pol_t ENABLE ROW LEVEL SECURITY")
    eng.sql("CREATE POLICY p1 ON pol_t TO analyst USING (n_nationkey < 5)")
    eng.sql("CREATE RESOURCE LABEL pol_lb ADD COLUMN(pol_t.n_name)")
    eng.sql("CREATE MASKING POLICY pm maskall ON LABEL(pol_lb)")
    rows = {(r.policyname, r.kind, r.roles)
            for r in eng.sql("SELECT * FROM pg_policies").collect()}
    assert ("p1", "rls", "analyst") in rows
    assert ("pm", "masking", "public") in rows
    eng.sql("DROP POLICY p1 ON pol_t")
    eng.sql("DROP MASKING POLICY pm")
    assert not {r.kind for r in
                eng.sql("SELECT * FROM pg_policies").collect()}
    eng.sql("DROP TABLE pol_t")


def test_rls_survives_dml(spark):
    """ADVICE r4 (high): DML on a protected table must not clobber the
    filtered/masked view with the raw base relation — openGauss applies
    rewriteRlsPolicy quals to every scan, post-DML scans included."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS rlsdml_t")
    eng.sql(
        "CREATE TABLE rlsdml_t AS SELECT n_nationkey, n_name, n_regionkey"
        " FROM nation"
    )
    eng.sql("ALTER TABLE rlsdml_t ENABLE ROW LEVEL SECURITY")
    eng.sql("CREATE POLICY p0 ON rlsdml_t TO analyst USING (n_regionkey = 0)")
    eng.sql("SET ROLE analyst")
    assert eng.sql("SELECT COUNT(*) AS n FROM rlsdml_t").collect()[0].n == 5
    # UPDATE within the visible slice: the restricted view must persist
    eng.sql("UPDATE rlsdml_t SET n_name = 'x' WHERE n_regionkey = 0")
    assert eng.sql("SELECT COUNT(*) AS n FROM rlsdml_t").collect()[0].n == 5
    # INSERT: view must stay filtered afterwards (inserted row is in
    # region 0, so the analyst sees 6 — not all 26)
    eng.sql(
        "INSERT INTO rlsdml_t SELECT 99 AS a, 'new' AS b, 0 AS c"
    )
    assert eng.sql("SELECT COUNT(*) AS n FROM rlsdml_t").collect()[0].n == 6
    eng.sql("RESET ROLE")
    assert eng.sql("SELECT COUNT(*) AS n FROM rlsdml_t").collect()[0].n == 26
    eng.sql("DROP TABLE rlsdml_t")


def test_rls_quals_apply_to_update_delete(spark):
    """ADVICE r4 (medium): a restricted role may only UPDATE/DELETE
    rows its policies expose — PG injects policy quals into the DML
    scan (rewriteRlsPolicy semantics)."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS rlsud_t")
    eng.sql(
        "CREATE TABLE rlsud_t AS SELECT n_nationkey, n_name, n_regionkey"
        " FROM nation"
    )
    eng.sql("ALTER TABLE rlsud_t ENABLE ROW LEVEL SECURITY")
    eng.sql("CREATE POLICY p0 ON rlsud_t TO analyst USING (n_regionkey = 0)")
    eng.sql("SET ROLE analyst")
    # UPDATE touching the whole table only hits the visible 5 rows
    tag = eng.sql("UPDATE rlsud_t SET n_name = 'seen'").collect()[0]
    assert tag.rows == 5
    # unrestricted DELETE removes only the visible rows
    tag = eng.sql("DELETE FROM rlsud_t").collect()[0]
    assert tag.rows == 5
    eng.sql("RESET ROLE")
    rows = eng.sql(
        "SELECT n_regionkey, n_name FROM rlsud_t"
    ).collect()
    assert len(rows) == 20  # hidden rows survived the role's DELETE
    assert all(r.n_regionkey != 0 for r in rows)
    assert all(r.n_name != "seen" for r in rows)  # none were updated
    eng.sql("DROP TABLE rlsud_t")


def test_drop_table_purges_security_state(spark):
    """ADVICE r4 (medium): DROP TABLE must purge triggers/RLS/masking
    state so a recreated same-name table does not inherit policies and
    a later SET ROLE does not chase the dropped table's path."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS purge_t")
    eng.sql(
        "CREATE TABLE purge_t AS SELECT n_nationkey, n_regionkey FROM nation"
    )
    eng.sql("ALTER TABLE purge_t ENABLE ROW LEVEL SECURITY")
    eng.sql("CREATE POLICY p ON purge_t TO analyst USING (n_regionkey = 0)")
    eng.sql(
        "CREATE TRIGGER tg BEFORE UPDATE ON purge_t FOR EACH ROW"
        " EXECUTE PROCEDURE check_primary_key('n_regionkey', 'region',"
        " 'r_regionkey')"
    )
    eng.sql("DROP TABLE purge_t")
    assert "purge_t" not in eng.rls_enabled
    assert "purge_t" not in eng.rls_policies
    assert "purge_t" not in eng.triggers
    # SET ROLE after the drop must not raise chasing the old path
    eng.sql("SET ROLE analyst")
    eng.sql("RESET ROLE")
    # a recreated same-name table starts unprotected
    eng.sql(
        "CREATE TABLE purge_t AS SELECT n_nationkey, n_regionkey FROM nation"
    )
    eng.sql("SET ROLE analyst")
    assert eng.sql("SELECT COUNT(*) AS n FROM purge_t").collect()[0].n == 25
    eng.sql("RESET ROLE")
    eng.sql("DROP TABLE purge_t")


def test_create_function_paren_param_types(spark):
    """ADVICE r4 (low): parameter lists with parenthesized types —
    numeric(10,2) — must parse (paren-balanced capture)."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE FUNCTION round_price(p numeric(10,2), pct numeric(5,2))"
        " RETURNS numeric(10,2)"
        " AS 'SELECT p * (1 - pct / 100)' LANGUAGE SQL IMMUTABLE"
    )
    got = eng.sql("SELECT round_price(100.00, 25.00) AS v").collect()[0].v
    assert float(got) == 75.0
    eng.sql("DROP FUNCTION round_price")


def test_create_function_multi_statement_body(spark):
    """functions.cpp executes a statement LIST and returns the last
    statement's result; earlier side-effect-free statements are
    discarded. DML before the final statement is rejected clearly."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE FUNCTION last_stmt_wins(x int) RETURNS int AS"
        " 'SELECT 1; SELECT 2; SELECT x * 10' LANGUAGE SQL"
    )
    assert eng.sql("SELECT last_stmt_wins(4) AS v").collect()[0].v == 40
    eng.sql("DROP FUNCTION last_stmt_wins")
    # a ';' inside a comment must not split the statement list (the
    # split is string- AND comment-aware); the '--' inside a literal
    # must survive
    eng.sql("""
        CREATE FUNCTION commented(x int) RETURNS text AS $$
        SELECT 1; -- probe; discarded per the PG rule
        /* multi; line;
           comment */
        SELECT '--' || CAST(x * 2 AS STRING)
        $$ LANGUAGE SQL
    """)
    assert eng.sql(
        "SELECT commented(21) AS v"
    ).collect()[0].v == "--42"
    eng.sql("DROP FUNCTION commented")
    with pytest.raises(NotImplementedError, match="side-effect-free"):
        eng.sql(
            "CREATE FUNCTION bad_body(x int) RETURNS int AS"
            " 'INSERT INTO t VALUES (1); SELECT 1' LANGUAGE SQL"
        )


def test_plpgsql_guard_and_return(spark):
    """The plpgsql guard-and-return scalar idiom (pl_exec.cpp
    exec_stmt_if :1809) compiles to one inlined CASE expression —
    DECLARE initializers, ELSIF chains, nested IF."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION grade(score float8) RETURNS text AS $$
        DECLARE
            bonus float8 := 5.0;
        BEGIN
            IF score + bonus >= 90 THEN
                RETURN 'A';
            ELSIF score + bonus >= 75 THEN
                RETURN 'B';
            ELSE
                RETURN 'C';
            END IF;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.s: r.g for r in eng.sql(
        "SELECT s, grade(CAST(s AS DOUBLE)) AS g"
        " FROM (VALUES (95.0), (80.0), (40.0)) AS t(s)"
    ).collect()}
    assert got == {95.0: "A", 80.0: "B", 40.0: "C"}
    eng.sql("DROP FUNCTION grade")


def test_plpgsql_conditional_assignment_and_raise(spark):
    """Non-terminating IF branches fold assignments into CASE
    bindings; RAISE EXCEPTION compiles to raise_error()."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION clamp01(x float8) RETURNS float8 AS $$
        DECLARE
            v float8 := x;
        BEGIN
            IF v < 0 THEN
                v := 0.0;
            ELSIF v > 1 THEN
                v := 1.0;
            END IF;
            RETURN v;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = [r.c for r in eng.sql(
        "SELECT clamp01(CAST(x AS DOUBLE)) AS c"
        " FROM (VALUES (-2.0), (0.5), (7.0)) AS t(x) ORDER BY x"
    ).collect()]
    assert got == [0.0, 0.5, 1.0]
    eng.sql("DROP FUNCTION clamp01")
    eng.sql("""
        CREATE FUNCTION must_pos(x float8) RETURNS float8 AS $$
        BEGIN
            IF x <= 0 THEN
                RAISE EXCEPTION 'x must be positive';
            END IF;
            RETURN sqrt(x);
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT must_pos(9.0) AS v").collect()[0].v == 3.0
    with pytest.raises(Exception, match="must be positive"):
        eng.sql("SELECT must_pos(-1.0) AS v").collect()
    eng.sql("DROP FUNCTION must_pos")


def test_plpgsql_unsupported_shapes_raise_clearly(spark):
    """LOOP/EXECUTE/EXCEPTION raise NotImplementedError naming the
    Spark-side rewrite, never a confusing parse error."""
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(NotImplementedError, match="set-oriented"):
        eng.sql("""
            CREATE FUNCTION f(x int) RETURNS int AS $$
            DECLARE i int := 0; done boolean := false;
            BEGIN
                WHILE done = false LOOP i := i + 1; END LOOP;
                RETURN i;
            END;
            $$ LANGUAGE plpgsql
        """)
    # the counter-only WHILE is NOT a refusal: it compiles to its
    # closed-form final counter with no relation at all
    eng.sql("""
        CREATE FUNCTION fcnt(x int) RETURNS int AS $$
        DECLARE i int := 0;
        BEGIN
            WHILE i < x LOOP i := i + 1; END LOOP;
            RETURN i;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT fcnt(7) AS v").collect()[0].v == 7
    assert eng.sql("SELECT fcnt(-2) AS v").collect()[0].v == 0
    eng.sql("DROP FUNCTION fcnt")
    # round 9: the straight-line EXCEPTION subset now COMPILES (see
    # test_plpgsql_exception_blocks); a guarded always-zero division
    # routes to the handler
    eng.sql("""
        CREATE FUNCTION g(x int) RETURNS int AS $$
        BEGIN
            RETURN x / 0;
        EXCEPTION WHEN division_by_zero THEN RETURN 0;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT g(7) AS v").collect()[0].v == 0
    eng.sql("DROP FUNCTION g")


def test_plpgsql_select_into(spark):
    """SELECT ... INTO var binds a scalar subquery (exec_stmt_execsql's
    INTO path); the function inlines it into the calling plan."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION region_share(rk int) RETURNS double AS $$
        DECLARE
            total bigint;
            mine bigint;
        BEGIN
            SELECT COUNT(*) INTO total FROM nation;
            SELECT COUNT(*) INTO mine FROM nation WHERE n_regionkey = rk;
            RETURN CAST(mine AS DOUBLE) / total;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = eng.sql("SELECT region_share(0) AS v").collect()[0].v
    assert abs(got - 0.2) < 1e-12  # 5 of 25 nations
    eng.sql("DROP FUNCTION region_share")


def test_plpgsql_select_into_identifier_expr_and_qualified_refs(spark):
    """Advisor regression pins: (1) a SELECT ... INTO expression that
    ENDS IN AN IDENTIFIER must not glue onto FROM ('cntFROM metrics');
    (2) qualified references (t.col) to a column whose name collides
    with a declared variable survive substitution — plpgsql's escape
    hatch for the shadowing rule."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION key_of(nm text) RETURNS bigint AS $$
        DECLARE
            k bigint;
        BEGIN
            SELECT n_nationkey INTO k FROM nation WHERE n_name = nm;
            RETURN k + 1000;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql(
        "SELECT key_of('NATION_3') AS v"
    ).collect()[0].v == 1003
    eng.sql("DROP FUNCTION key_of")
    eng.sql("""
        CREATE FUNCTION top_region(mink int) RETURNS int AS $$
        DECLARE
            n_regionkey int := -1;
            v int;
        BEGIN
            SELECT max(t.n_regionkey) INTO v
              FROM nation t WHERE t.n_nationkey >= mink;
            IF v IS NULL THEN
                RETURN n_regionkey;
            END IF;
            RETURN v;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT top_region(0) AS v").collect()[0].v == 4
    assert eng.sql("SELECT top_region(999) AS v").collect()[0].v == -1
    eng.sql("DROP FUNCTION top_region")


def test_plpgsql_for_loop_accumulators(spark):
    """FOR r IN SELECT ... LOOP with accumulator assignments compiles
    to scalar-subquery aggregates (exec_stmt_fors as one distributed
    aggregation): sum / count / GREATEST-max in one loop, verified
    against the direct aggregate."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION nation_stats(rk int) RETURNS double AS $$
        DECLARE
            r RECORD;
            total double precision := 0.0;
            n bigint := 0;
            top int := -1;
        BEGIN
            FOR r IN SELECT n_nationkey FROM nation
                     WHERE n_regionkey = rk LOOP
                total := total + r.n_nationkey;
                n := n + 1;
                top := GREATEST(top, r.n_nationkey);
            END LOOP;
            IF n = 0 THEN
                RETURN -1.0;
            END IF;
            RETURN total / n + top;
        END;
        $$ LANGUAGE plpgsql
    """)
    expect = {
        row.rk: (float(row.s) / row.c + row.m)
        for row in eng.sql(
            "SELECT n_regionkey AS rk, SUM(n_nationkey) AS s,"
            " COUNT(*) AS c, MAX(n_nationkey) AS m"
            " FROM nation GROUP BY n_regionkey"
        ).collect()
    }
    for rk, want in expect.items():
        got = eng.sql(f"SELECT nation_stats({rk}) AS v").collect()[0].v
        assert abs(got - want) < 1e-9, (rk, got, want)
    # empty result set → the guard branch, not NULL arithmetic
    assert eng.sql("SELECT nation_stats(99) AS v").collect()[0].v == -1.0
    eng.sql("DROP FUNCTION nation_stats")
    # sequential dependence between accumulators refuses clearly
    import pytest as _pytest
    with _pytest.raises(NotImplementedError, match="sequential"):
        eng.sql("""
            CREATE FUNCTION badloop(x int) RETURNS int AS $$
            DECLARE r RECORD; a int := 0; b int := 0;
            BEGIN
                FOR r IN SELECT n_nationkey FROM nation LOOP
                    a := a + r.n_nationkey;
                    b := b + a;
                END LOOP;
                RETURN b;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_integer_for_loop(spark):
    """Bounded integer FOR loops (pl_exec.cpp exec_stmt_fori) compile
    to explode(sequence(...)) aggregates: forward, REVERSE, BY step,
    zero-iteration ranges, and column-argument correlation."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION sumsq(n int) RETURNS bigint AS $$
        DECLARE total bigint := 0;
        BEGIN
            FOR i IN 1..n LOOP
                total := total + i * i;
            END LOOP;
            RETURN total;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.n: r.v for r in eng.sql(
        "SELECT n_nationkey AS n, sumsq(CAST(n_nationkey AS INT)) AS v"
        " FROM nation"
    ).collect()}
    for n, v in got.items():
        assert v == n * (n + 1) * (2 * n + 1) // 6, (n, v)
    eng.sql("""
        CREATE FUNCTION revby(n int) RETURNS bigint AS $$
        DECLARE total bigint := 0;
        BEGIN
            FOR i IN REVERSE n..1 BY 2 LOOP
                total := total + i;
            END LOOP;
            RETURN total;
        END;
        $$ LANGUAGE plpgsql
    """)
    # n=5 → 5+3+1; n=2 → 2; n=0 → empty (REVERSE 0..1 never runs)
    assert eng.sql("SELECT revby(5) AS v").collect()[0].v == 9
    assert eng.sql("SELECT revby(2) AS v").collect()[0].v == 2
    assert eng.sql("SELECT revby(0) AS v").collect()[0].v == 0
    # forward loop with lo > hi never runs (Spark's bare sequence()
    # would auto-reverse — the CASE guard pins PG semantics)
    assert eng.sql("SELECT sumsq(-3) AS v").collect()[0].v == 0
    eng.sql("DROP FUNCTION sumsq")
    eng.sql("DROP FUNCTION revby")
    # non-accumulator bodies still refuse with the aggregate-shape
    # message (not a parse error)
    with pytest.raises(NotImplementedError, match="accumulator"):
        eng.sql("""
            CREATE FUNCTION badint(n int) RETURNS int AS $$
            DECLARE t int := 0;
            BEGIN
                FOR i IN 1..n LOOP
                    RAISE EXCEPTION 'boom';
                END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_nested_if(spark):
    """Nested IF blocks compile via depth-tracked END IF matching."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION bucket2(x float8, y float8) RETURNS text AS $$
        BEGIN
            IF x >= 0 THEN
                IF y >= 0 THEN
                    RETURN 'Q1';
                ELSE
                    RETURN 'Q4';
                END IF;
            ELSIF y >= 0 THEN
                RETURN 'Q2';
            ELSE
                RETURN 'Q3';
            END IF;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {(r.x, r.y): r.q for r in eng.sql(
        "SELECT x, y, bucket2(CAST(x AS DOUBLE), CAST(y AS DOUBLE)) AS q"
        " FROM (VALUES (1.0, 1.0), (1.0, -1.0), (-1.0, 1.0), (-1.0, -1.0))"
        " AS t(x, y)"
    ).collect()}
    assert got == {(1.0, 1.0): "Q1", (1.0, -1.0): "Q4",
                   (-1.0, 1.0): "Q2", (-1.0, -1.0): "Q3"}
    eng.sql("DROP FUNCTION bucket2")


def test_plpgsql_strings_and_case_expressions(spark):
    """Review-fix pins: keywords and variable names inside string
    literals are inert; CASE expressions inside IF blocks parse; a
    RETURN branch may coexist with a fall-through assignment branch;
    '--' inside a literal is not a comment."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION describe_sign(x float8) RETURNS text AS $$
        DECLARE
            label text := 'x--value';  -- a real comment
        BEGIN
            IF x > 0 THEN
                RETURN label || ': ' ||
                    CASE WHEN x > 10 THEN 'big if true' ELSE 'small' END;
            ELSE
                label := 'label says else then end';
            END IF;
            RETURN label;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.x: r.d for r in eng.sql(
        "SELECT x, describe_sign(CAST(x AS DOUBLE)) AS d"
        " FROM (VALUES (20.0), (5.0), (-1.0)) AS t(x)"
    ).collect()}
    assert got == {
        20.0: "x--value: big if true",
        5.0: "x--value: small",
        -1.0: "label says else then end",
    }
    eng.sql("DROP FUNCTION describe_sign")


def test_plpgsql_variable_name_inside_literal(spark):
    """A declared variable's name appearing inside a string literal is
    never substituted (review finding: silent corruption)."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION show_bonus(x float8) RETURNS text AS $$
        DECLARE
            bonus float8 := 5.0;
        BEGIN
            RETURN 'bonus=' || CAST(x + bonus AS STRING);
        END;
        $$ LANGUAGE plpgsql
    """)
    assert _first_v(eng, "SELECT show_bonus(1.0) AS v") == "bonus=6.0"
    eng.sql("DROP FUNCTION show_bonus")


def _first_v(eng, sql):
    return eng.sql(sql).collect()[0].v


def test_to_char_eeee_with_d_separator(spark):
    """Review fix: '9D99EEEE' (D locale separator, no '.') must not
    crash and must honor the D-side digit count."""
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.functions.pg_compat import to_char

    got = (
        spark.range(1)
        .select(to_char(F.lit(0.0004859).cast("double"), "9D99EEEE")
                .alias("v"))
        .first()
        .v
    )
    assert got == "4.86e-04"


def test_copy_to_respects_rls(spark, tmp_path):
    """Review fix: COPY TO on a protected table exports through the
    RLS-filtered view, never the raw parquet (PG runs COPY under the
    caller's policies)."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("DROP TABLE IF EXISTS rlscopy_t")
    eng.sql(
        "CREATE TABLE rlscopy_t AS SELECT n_nationkey, n_regionkey"
        " FROM nation"
    )
    eng.sql("ALTER TABLE rlscopy_t ENABLE ROW LEVEL SECURITY")
    eng.sql("CREATE POLICY p ON rlscopy_t TO analyst USING (n_regionkey = 0)")
    eng.sql("SET ROLE analyst")
    out = f"{tmp_path}/rls_export"
    eng.sql(f"COPY rlscopy_t TO '{out}' (FORMAT csv, HEADER true)")
    exported = spark.read.option("header", True).csv(out)
    assert exported.count() == 5  # policy-visible rows only, not 25
    eng.sql("RESET ROLE")
    eng.sql("DROP TABLE rlscopy_t")


def test_plpgsql_comment_and_literal_lexing(spark):
    """Second-review pins: an apostrophe inside a comment must not open
    a phantom string (line and block comments), and LOOP/OPEN/EXECUTE
    words inside string literals must not trip the unsupported scan."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION lexer_t(x float8) RETURNS text AS $$
        -- don't trip on this
        DECLARE
            v text := 'open the door';  /* can't fail */
        BEGIN
            IF x > 0 THEN
                RETURN v || ' while you wait';
            END IF;
            RETURN 'execute order 66';
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.x: r.t for r in eng.sql(
        "SELECT x, lexer_t(CAST(x AS DOUBLE)) AS t"
        " FROM (VALUES (1.0), (-1.0)) AS t(x)"
    ).collect()}
    assert got == {1.0: "open the door while you wait",
                   -1.0: "execute order 66"}
    eng.sql("DROP FUNCTION lexer_t")


def test_plpgsql_drop_function(spark):
    """DROP FUNCTION deregisters a plpgsql-language function through
    the shared sql_functions path."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE FUNCTION dropme(x int) RETURNS int AS $$"
        " BEGIN RETURN x + 1; END; $$ LANGUAGE plpgsql"
    )
    assert eng.sql("SELECT dropme(1) AS v").collect()[0].v == 2
    tag = eng.sql("DROP FUNCTION dropme").collect()[0]
    assert tag.existed
    assert "dropme" not in eng.sql_functions


def test_plpython_function_end_to_end(spark):
    """LANGUAGE plpython3u (plpy_main.cpp PLy_exec_function): the body
    runs as an Arrow-batched pandas UDF — per-element Python, never a
    row-at-a-time BatchEvalPython node — with NULL pass-through and
    declared-type coercion; DROP removes it from the session."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION py_digit_sum(k bigint) RETURNS int AS $$
        return sum(int(d) for d in str(abs(k)))
        $$ LANGUAGE plpython3u
    """)
    out = eng.sql(
        "SELECT n_nationkey, py_digit_sum(n_nationkey) AS ds"
        " FROM nation ORDER BY n_nationkey"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    got = {r.n_nationkey: r.ds for r in out.collect()}
    assert got[7] == 7 and got[19] == 10 and got[24] == 6
    eng.sql("DROP FUNCTION py_digit_sum")
    import pytest as _pytest
    with _pytest.raises(Exception):
        eng.sql("SELECT py_digit_sum(1) AS v").collect()


def test_plpython_body_verbatim(spark):
    """The dollar-quoted body is PYTHON and runs verbatim
    (PLy_procedure_create compiles the raw prosrc): '--' is Python
    double-negation, not a SQL comment, and '--'/'/*' inside string
    literals must survive."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION py_minus_minus(k bigint) RETURNS bigint AS $$
        return k -- 3
        $$ LANGUAGE plpython3u
    """)
    out = eng.sql(
        "SELECT py_minus_minus(n_nationkey) AS v FROM nation"
        " WHERE n_nationkey = 5"
    ).collect()
    assert out[0].v == 8  # 5 - (-3), not a truncated 'return 5'
    eng.sql("DROP FUNCTION py_minus_minus")
    eng.sql("""
        CREATE FUNCTION py_strlit(k bigint) RETURNS string AS $$
        return "a--b/*c" + str(k)
        $$ LANGUAGE plpython3u
    """)
    out = eng.sql(
        "SELECT py_strlit(n_nationkey) AS v FROM nation"
        " WHERE n_nationkey = 1"
    ).collect()
    assert out[0].v == "a--b/*c1"
    eng.sql("DROP FUNCTION py_strlit")


def test_plpython_refusals(spark):
    """plpy.* / SD / SETOF / zero-arg raise clear errors naming the
    Spark-side rewrite, never a confusing runtime failure."""
    import pytest as _pytest

    eng = Engine(spark, SF_CORRECT)
    with _pytest.raises(NotImplementedError, match="SPI"):
        eng.sql("""
            CREATE FUNCTION f(x int) RETURNS int AS $$
            r = plpy.execute('SELECT 1')
            return 1
            $$ LANGUAGE plpython3u
        """)
    with _pytest.raises(NotImplementedError, match="broadcast"):
        eng.sql("""
            CREATE FUNCTION g(x int) RETURNS int AS $$
            SD['n'] = SD.get('n', 0) + 1
            return SD['n']
            $$ LANGUAGE plpython3u
        """)
    with _pytest.raises(NotImplementedError, match="zero-argument"):
        eng.sql("""
            CREATE FUNCTION z() RETURNS int AS $$
            return 42
            $$ LANGUAGE plpython3u
        """)


def test_plpython_setof(spark):
    """PL/Python RETURNS SETOF (plpy_exec.cpp PLy_exec_function's
    iterator protocol, lifted round 11): generator and return-list
    bodies, targetlist explode multiplication, zero-yield dropping
    the input row (PG's SRF rule), FROM-position with AS alias, and
    the remaining refusal: SETOF over a composite element."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION py_bits(n int) RETURNS SETOF int AS $$
        while n:
            yield n % 2
            n //= 2
        $$ LANGUAGE plpython3u
    """)
    # 6 = 110b → yields 0,1,1; input 0 yields NOTHING → row dropped
    rows = eng.sql(
        "SELECT v, py_bits(v) AS b FROM"
        " (SELECT 6 AS v UNION ALL SELECT 0) ORDER BY v, b"
    ).collect()
    assert [(r.v, r.b) for r in rows] == [(6, 0), (6, 1), (6, 1)]
    # FROM position with alias; column named by the alias
    eng.sql("""
        CREATE FUNCTION py_upto(n int) RETURNS SETOF bigint AS $$
        return [i * i for i in range(1, n + 1)]
        $$ LANGUAGE plpython3u
    """)
    rows = eng.sql(
        "SELECT sq FROM py_upto(4) AS sq ORDER BY sq"
    ).collect()
    assert [r.sq for r in rows] == [1, 4, 9, 16]
    # default column name = function name (PG's rule)
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM py_upto(3)"
    ).collect()[0].n == 3
    with pytest.raises(NotImplementedError, match="composite"):
        eng.sql("""
            CREATE FUNCTION py_rows(n int) RETURNS SETOF vector AS $$
            return []
            $$ LANGUAGE plpython3u
        """)
    eng.sql("DROP FUNCTION py_bits")
    eng.sql("DROP FUNCTION py_upto")
    assert not eng.plpython_setof


def test_do_block_orchestration(spark, tmp_path):
    """DO $$ ... $$ (DoStmt → plpgsql_inline_handler): SELECT INTO
    binds driver-side values, IF branches on them, variables substitute
    into DML as typed literals, RAISE NOTICE collects, RAISE EXCEPTION
    raises, and each inner statement is a full distributed operation."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    out = eng.sql("""
        DO $$
        DECLARE
            n bigint;
            cutoff int := 2 + 3;
            label text := 'lo''w';
        BEGIN
            SELECT COUNT(*) INTO n FROM nation;
            IF n > 100 THEN
                RAISE EXCEPTION 'unexpected';
            ELSIF n > 10 THEN
                CREATE TABLE do_t AS
                    SELECT n_nationkey, label AS tag FROM nation
                    WHERE n_nationkey < cutoff;
                RAISE NOTICE 'built';
            ELSE
                RAISE NOTICE 'skipped';
            END IF;
        END;
        $$
    """).collect()[0]
    assert out.tag == "DO"
    assert out.statements_executed == 1  # the CTAS
    assert out.notices == "NOTICE: built"
    rows = eng.sql(
        "SELECT n_nationkey, tag FROM do_t ORDER BY n_nationkey"
    ).collect()
    assert [r.n_nationkey for r in rows] == [0, 1, 2, 3, 4]
    assert rows[0].tag == "lo'w"  # quoted literal round-trips
    eng.sql("DROP TABLE do_t")
    with pytest.raises(RuntimeError, match="boom"):
        eng.sql("DO $$ BEGIN RAISE EXCEPTION 'boom'; END; $$")
    with pytest.raises(NotImplementedError, match="set-oriented"):
        eng.sql("""
            DO $$
            DECLARE i int := 0;
            BEGIN
                WHILE i < 3 LOOP i := i + 1; END LOOP;
            END;
            $$
        """)


def test_create_procedure_and_call(spark, tmp_path):
    """CREATE PROCEDURE / CALL (openGauss A-format procedures, run by
    the same plpgsql inline handler as DO): IN parameters bind as
    driver-side values, the body re-runs per CALL with fresh bindings,
    DROP PROCEDURE removes it; OUT parameters refuse with the rewrite
    named."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    out = eng.sql("""
        CREATE PROCEDURE build_slice(cutoff int, tbl_tag text) AS $$
        DECLARE
            n bigint;
        BEGIN
            SELECT COUNT(*) INTO n FROM nation
                WHERE n_nationkey < cutoff;
            IF n = 0 THEN
                RAISE EXCEPTION 'empty slice';
            END IF;
            CREATE TABLE proc_t AS
                SELECT n_nationkey, tbl_tag AS tag FROM nation
                WHERE n_nationkey < cutoff;
            RAISE NOTICE 'built';
        END;
        $$
    """).collect()[0]
    assert out.tag == "CREATE PROCEDURE"
    r1 = eng.sql("CALL build_slice(3, 'first')").collect()[0]
    assert r1.tag == "CALL" and r1.notices == "NOTICE: built"
    assert eng.sql("SELECT COUNT(*) AS c FROM proc_t").collect()[0].c == 3
    eng.sql("DROP TABLE proc_t")
    # second CALL re-binds fresh parameter values
    eng.sql("CALL build_slice(2 + 3, 'second')")
    rows = eng.sql(
        "SELECT DISTINCT tag, COUNT(*) OVER () AS c FROM proc_t"
    ).collect()
    assert rows[0].tag == "second" and rows[0].c == 5
    eng.sql("DROP TABLE proc_t")
    with pytest.raises(RuntimeError, match="empty slice"):
        eng.sql("CALL build_slice(0, 'none')")
    with pytest.raises(ValueError, match="argument"):
        eng.sql("CALL build_slice(1)")
    eng.sql("DROP PROCEDURE build_slice")
    with pytest.raises(KeyError):
        eng.sql("CALL build_slice(1, 'x')")


def test_call_out_inout_params(spark):
    """OUT/INOUT parameters (hw_func_return_out.sql): CALL returns
    the OUT values as a one-row typed frame in declaration order;
    INOUT starts from the call-site argument, OUT starts NULL; both
    PG ('OUT name type') and A-format ('name OUT type') orders
    parse; an OUT slot the body never assigns returns NULL."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE PROCEDURE stats(IN cutoff int, INOUT acc bigint,
                               OUT n bigint, untouched OUT text) AS $$
        BEGIN
            SELECT COUNT(*) INTO n FROM nation
                WHERE n_nationkey < cutoff;
            acc := acc + n;
        END;
        $$
    """)
    df = eng.sql("CALL stats(5, 100, NULL, NULL)")
    assert df.schema.simpleString() == (
        "struct<acc:bigint,n:bigint,untouched:string>"
    )
    row = df.collect()[0]
    assert (row.acc, row.n, row.untouched) == (105, 5, None)
    eng.sql("DROP PROCEDURE stats")


def test_create_model_predict_by_sql_text(spark):
    """The DB4AI statement surface as TEXT (gram.y:11603 CREATE MODEL,
    :27180 PREDICT BY): train via MLlib from a statement, score inside
    a SELECT through the rewrite, drop. The math itself is gated by the
    db4ai_* oracle queries; this pins the statement plumbing."""
    eng = Engine(spark, SF_CORRECT)
    out = eng.sql(
        "CREATE MODEL t_lin USING linear_regression"
        " FEATURES l_quantity TARGET l_extendedprice FROM lineitem"
    ).collect()[0]
    assert out.tag == "CREATE MODEL" and out.algorithm == "linear_regression"
    rows = eng.sql(
        "SELECT l_orderkey, l_quantity,"
        " PREDICT BY t_lin (FEATURES l_quantity) AS p"
        " FROM lineitem WHERE l_orderkey <= 5 ORDER BY l_orderkey"
    ).collect()
    assert len(rows) > 0 and all(r.p is not None for r in rows)
    # predictions are monotone in the single feature for a linear model
    by_qty = sorted(rows, key=lambda r: r.l_quantity)
    preds = [r.p for r in by_qty]
    assert preds == sorted(preds)
    assert eng.sql("DROP MODEL t_lin").collect()[0].existed is True
    assert eng.sql("DROP MODEL IF EXISTS t_lin").collect()[0].existed \
        is False
    with pytest.raises(KeyError):
        eng.sql("DROP MODEL t_lin")
    with pytest.raises(KeyError):
        eng.sql(
            "SELECT PREDICT BY nope (FEATURES l_quantity) FROM lineitem"
        )
    # hyperparameters ride through WITH k=v
    eng.sql(
        "CREATE MODEL t_km USING kmeans"
        " FEATURES l_quantity, l_extendedprice FROM lineitem WITH k=3"
    )
    got = eng.sql(
        "SELECT DISTINCT PREDICT BY t_km"
        " (FEATURES l_quantity, l_extendedprice) AS c FROM lineitem"
    ).collect()
    assert 1 <= len(got) <= 3
    eng.sql("DROP MODEL t_km")


def test_predict_by_anchors_top_level_from(spark):
    """PREDICT BY must score the statement's MAIN table: a scalar
    subquery's FROM ahead of the top-level FROM (or a same-table
    subquery) must not capture the rewrite; non-canonical shapes get
    the documented clear error instead of silently scoring the wrong
    relation."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql(
        "CREATE MODEL t_lin2 USING linear_regression"
        " FEATURES l_quantity TARGET l_extendedprice FROM lineitem"
    )
    # scalar subquery over ANOTHER table before the main FROM: the
    # rewrite must anchor on "FROM lineitem", not "FROM orders"
    rows = eng.sql(
        "SELECT (SELECT MAX(o_orderkey) FROM orders) AS mk,"
        " PREDICT BY t_lin2 (FEATURES l_quantity) AS p"
        " FROM lineitem WHERE l_orderkey <= 3"
    ).collect()
    assert len(rows) > 0 and all(r.p is not None for r in rows)
    assert all(r.mk is not None for r in rows)
    # set operations / multiple top-level FROMs: clear refusal
    with pytest.raises(NotImplementedError, match="single-FROM"):
        eng.sql(
            "SELECT PREDICT BY t_lin2 (FEATURES l_quantity) AS p"
            " FROM lineitem UNION ALL SELECT l_quantity FROM lineitem"
        )
    eng.sql("DROP MODEL t_lin2")


def test_alter_table_managed(spark, tmp_path):
    """ALTER TABLE (tablecmds.cpp AlterTable) over managed tables:
    ADD COLUMN with and without DEFAULT, DROP COLUMN, RENAME COLUMN,
    RENAME TO — each column change one copy-on-write rewrite; catalog
    tables are read-only."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE alt_t AS SELECT n_nationkey, n_name FROM nation"
        " WHERE n_nationkey < 5"
    )
    eng.sql("ALTER TABLE alt_t ADD COLUMN score double DEFAULT 1.5")
    rows = eng.sql("SELECT * FROM alt_t ORDER BY n_nationkey").collect()
    assert all(r.score == 1.5 for r in rows) and len(rows) == 5
    eng.sql("ALTER TABLE alt_t ADD COLUMN note text")
    assert all(
        r.note is None
        for r in eng.sql("SELECT note FROM alt_t").collect()
    )
    eng.sql("ALTER TABLE alt_t RENAME COLUMN score TO rating")
    cols = eng.sql("SELECT * FROM alt_t").columns
    assert "rating" in cols and "score" not in cols
    eng.sql("ALTER TABLE alt_t DROP COLUMN note")
    assert "note" not in eng.sql("SELECT * FROM alt_t").columns
    eng.sql("ALTER TABLE alt_t RENAME TO alt_r")
    assert eng.sql(
        "SELECT COUNT(*) AS c FROM alt_r"
    ).collect()[0].c == 5
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM alt_t").collect()  # old name gone
    # error contracts
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("ALTER TABLE alt_r ADD COLUMN rating int")
    with pytest.raises(KeyError):
        eng.sql("ALTER TABLE alt_r DROP COLUMN nope")
    with pytest.raises(ValueError, match="read-only catalog"):
        eng.sql("ALTER TABLE nation ADD COLUMN x int")
    with pytest.raises(KeyError):
        eng.sql("ALTER TABLE missing ADD COLUMN x int")
    eng.sql("DROP TABLE alt_r")


def test_btree_index_is_sorted_layout(spark, tmp_path):
    """CREATE INDEX [USING btree] on a managed table = the CLUSTER
    sorted rewrite (indexcmds.cpp DefineIndex → data-skipping layout):
    per-file key ranges become disjoint, pg_indexes lists it, DROP
    INDEX removes the catalog entry (the layout is just data order)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE bt_t AS SELECT o_orderkey, o_totalprice"
        " FROM orders WHERE o_orderkey <= 2000"
    )
    out = eng.sql("CREATE INDEX ON bt_t (o_orderkey)").collect()[0]
    assert out.tag == "CREATE INDEX" and out.am == "btree"
    assert out["index"] == "bt_t_o_orderkey_idx"
    rows = eng.sql("SELECT * FROM pg_indexes").collect()
    assert any(r.indexname == "bt_t_o_orderkey_idx" and r.am == "btree"
               for r in rows)
    # data survives, still queryable, sorted layout preserved count
    assert eng.sql("SELECT COUNT(*) AS c FROM bt_t").collect()[0].c == \
        eng.sql(
            "SELECT COUNT(*) AS c FROM orders WHERE o_orderkey <= 2000"
        ).collect()[0].c
    dropped = eng.sql("DROP INDEX bt_t_o_orderkey_idx").collect()[0]
    assert dropped.existed is True
    with pytest.raises(NotImplementedError, match="zorder"):
        eng.sql("CREATE INDEX ON orders (o_orderkey)")
    eng.sql("DROP TABLE bt_t")


def test_create_table_plain_ddl(spark, tmp_path):
    """Plain CREATE TABLE (col list) lands in the MANAGED catalog —
    one table world: pg_tables lists it, INSERT appends through the
    managed path, ALTER TABLE works on it, constraints are tolerated
    as metadata (no enforcement on an immutable store), DEFAULT
    expressions apply on unlisted/DEFAULT-VALUES inserts, CHECK
    refuses with the INSERT-side rewrite."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    out = eng.sql(
        "CREATE TABLE pt (id bigint PRIMARY KEY, nm text NOT NULL,"
        " score double precision, PRIMARY KEY (id))"
    ).collect()[0]
    assert out.tag == "CREATE TABLE" and out.already_existed is False
    assert "pt" in eng.managed_tables.tables
    eng.sql("INSERT INTO pt VALUES (1, 'a', 0.5), (2, 'b', 1.5)")
    rows = eng.sql("SELECT * FROM pt ORDER BY id").collect()
    assert [(r.id, r.nm, r.score) for r in rows] == [
        (1, "a", 0.5), (2, "b", 1.5)]
    # unified world: ALTER works, pg_tables lists it
    eng.sql("ALTER TABLE pt ADD COLUMN flag boolean DEFAULT TRUE")
    assert all(r.flag for r in eng.sql("SELECT flag FROM pt").collect())
    tabs = {r.tablename: r.origin
            for r in eng.sql("SELECT * FROM pg_tables").collect()}
    assert tabs.get("pt") == "managed"
    assert eng.sql(
        "CREATE TABLE IF NOT EXISTS pt (x int)"
    ).collect()[0].already_existed is True
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE pt (x int)")
    # declared DEFAULTs fill unlisted columns and DEFAULT VALUES rows
    eng.sql(
        "CREATE TABLE pd (x int DEFAULT 3, s text DEFAULT 'none',"
        " v double)"
    )
    eng.sql("INSERT INTO pd (v) VALUES (1.5)")
    eng.sql("INSERT INTO pd DEFAULT VALUES")
    rows = eng.sql("SELECT * FROM pd ORDER BY v NULLS LAST").collect()
    assert [(r.x, r.s, r.v) for r in rows] == [
        (3, "none", 1.5), (3, "none", None)]
    with pytest.raises(NotImplementedError, match="CHECK"):
        eng.sql("CREATE TABLE pc (x int CHECK (x > 0))")
    eng.sql("DROP TABLE pd")
    eng.sql("DROP TABLE pt")


def test_alter_column_type(spark, tmp_path):
    """ALTER COLUMN TYPE (tablecmds.cpp ATExecAlterColumnType): the
    rewrite casts every row, or applies the USING expression."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE at2 (k int, v text)")
    eng.sql("INSERT INTO at2 VALUES (1, '10'), (2, '20')")
    eng.sql("ALTER TABLE at2 ALTER COLUMN v TYPE bigint")
    rows = eng.sql("SELECT * FROM at2 ORDER BY k").collect()
    assert [r.v for r in rows] == [10, 20]
    assert dict(eng.sql("SELECT * FROM at2").dtypes)["v"] == "bigint"
    eng.sql(
        "ALTER TABLE at2 ALTER v SET DATA TYPE text USING v * 2"
    )
    rows = eng.sql("SELECT * FROM at2 ORDER BY k").collect()
    assert [r.v for r in rows] == ["20", "40"]
    with pytest.raises(KeyError):
        eng.sql("ALTER TABLE at2 ALTER COLUMN nope TYPE int")
    eng.sql("DROP TABLE at2")


def test_package_spec_body_and_calls(spark):
    """CREATE PACKAGE / PACKAGE BODY (pl_package.cpp; hw_package
    regress): members compile through the plpgsql path under mangled
    names and pkg.member(...) call sites resolve — inlined SQL, no
    Python in the plan."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE OR REPLACE PACKAGE pricing IS
          FUNCTION tier(amt double) RETURN text;
          FUNCTION bump(amt double, pct double) RETURN double;
        END pricing;
    """)
    eng.sql("""
        CREATE OR REPLACE PACKAGE BODY pricing AS
          FUNCTION tier(amt double) RETURN text IS
          BEGIN
            IF amt >= 200000 THEN
              RETURN 'high';
            ELSIF amt >= 100000 THEN
              RETURN 'mid';
            ELSE
              RETURN 'low';
            END IF;
          END;
          FUNCTION bump(amt double, pct double) RETURN double IS
            delta double := amt * pct;
          BEGIN
            RETURN amt + delta;
          END;
        END pricing;
    """)
    out = eng.sql(
        "SELECT o_orderkey, pricing.tier(o_totalprice) AS t,"
        " pricing.bump(o_totalprice, 0.1) AS b"
        " FROM orders WHERE o_orderkey <= 7 ORDER BY o_orderkey"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        base = eng.sql(
            f"SELECT o_totalprice AS p FROM orders"
            f" WHERE o_orderkey = {r.o_orderkey}"
        ).collect()[0].p
        expect = "high" if base >= 200000 else (
            "mid" if base >= 100000 else "low"
        )
        assert r.t == expect
        assert abs(r.b - base * 1.1) < 1e-6
    # members survive in aggregates too
    agg = eng.sql(
        "SELECT pricing.tier(o_totalprice) AS t, COUNT(*) AS n"
        " FROM orders GROUP BY pricing.tier(o_totalprice) ORDER BY t"
    ).collect()
    assert {r.t for r in agg} <= {"high", "mid", "low"}
    eng.sql("DROP PACKAGE pricing")
    import pytest as _pytest
    with _pytest.raises(Exception):
        eng.sql(
            "SELECT pricing__tier(o_totalprice) FROM orders LIMIT 1"
        ).collect()


def test_package_session_variables(spark):
    """Package variables (pl_global_package_runtime_cache.cpp:17;
    regress hw_package_variable.sql): spec-public + body-private
    bindings, initializers that read earlier variables, qualified
    pkg.var reads in queries AND member bodies (members recompile on
    write), CONSTANT write refusal, engine-scoped state."""
    import pytest as _pytest

    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE PACKAGE vars IS
          base double := 10.0;
          scaled double := 2.0 * 10.0;
          label CONSTANT text := 'it''s';
          FUNCTION apply(x double) RETURN double;
        END vars;
    """)
    eng.sql("""
        CREATE PACKAGE BODY vars AS
          bias double := 1.0;
          FUNCTION apply(x double) RETURN double IS
          BEGIN
            RETURN x * vars.base + vars.bias;
          END;
        END vars;
    """)
    row = eng.sql(
        "SELECT vars.apply(3.0) AS v, vars.scaled AS s, vars.label AS t"
    ).collect()[0]
    assert (row.v, row.s, row.t) == (31.0, 20.0, "it's")
    # write-then-read: members see the new value (recompile-on-write)
    eng.sql("vars.base := vars.base + 90.0;")
    assert eng.sql("SELECT vars.apply(3.0) AS v").collect()[0].v == 301.0
    # private body variable is writable too
    eng.sql("vars.bias := 0.5")
    assert eng.sql("SELECT vars.apply(2.0) AS v").collect()[0].v == 200.5
    # a string literal containing pkg.var is never rewritten
    assert eng.sql(
        "SELECT 'vars.base' AS s"
    ).collect()[0].s == "vars.base"
    with _pytest.raises(ValueError, match="CONSTANT"):
        eng.sql("vars.label := 'other'")
    with _pytest.raises(KeyError, match="no variable"):
        eng.sql("vars.nope := 1")
    eng.sql("DROP PACKAGE vars")
    # cross-session expectation: a fresh engine has no binding —
    # package state is per-session, as the reference instantiates it
    eng2 = Engine(spark, SF_CORRECT)
    assert not getattr(eng2, "packages", None)


def test_package_refusals(spark):
    """Exceptions and overloads refuse with the documented guidance;
    body members must be declared."""
    import pytest as _pytest

    eng = Engine(spark, SF_CORRECT)
    with _pytest.raises(NotImplementedError, match="EXCEPTION"):
        eng.sql("""
            CREATE PACKAGE exppkg IS
              user_exp EXCEPTION;
            END exppkg;
        """)
    with _pytest.raises(NotImplementedError, match="OVERLOAD"):
        eng.sql("""
            CREATE PACKAGE ovl IS
              FUNCTION f(x int) RETURN int;
              FUNCTION f(x int, y int) RETURN int;
            END ovl;
        """)
    eng.sql("CREATE PACKAGE pk1 IS FUNCTION g(x int) RETURN int; END pk1;")
    with _pytest.raises(ValueError, match="not declared"):
        eng.sql("""
            CREATE PACKAGE BODY pk1 AS
              FUNCTION h(x int) RETURN int IS BEGIN RETURN x; END;
            END pk1;
        """)
    eng.sql("DROP PACKAGE pk1")
    with _pytest.raises(KeyError):
        eng.sql("DROP PACKAGE pk1")
    # IF EXISTS tolerates absence
    assert eng.sql(
        "DROP PACKAGE IF EXISTS pk1"
    ).collect()[0].existed is False


def test_package_procedure_member(spark, tmp_path):
    """A PROCEDURE member routes to the CREATE PROCEDURE runner;
    CALL pkg.proc(...) resolves through the same rewrite."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE pkg_log (tag text, n bigint)")
    eng.sql("""
        CREATE PACKAGE loader IS
          PROCEDURE load_tag(t text);
        END loader;
    """)
    eng.sql("""
        CREATE PACKAGE BODY loader AS
          PROCEDURE load_tag(t text) IS
          DECLARE cnt bigint;
          BEGIN
            SELECT COUNT(*) INTO cnt FROM orders WHERE o_orderkey <= 100;
            INSERT INTO pkg_log VALUES (t, cnt);
          END;
        END loader;
    """)
    eng.sql("CALL loader.load_tag('first')")
    rows = eng.sql("SELECT * FROM pkg_log").collect()
    assert len(rows) == 1 and rows[0].tag == "first" and rows[0].n > 0
    eng.sql("DROP PACKAGE loader")
    eng.sql("DROP TABLE pkg_log")


def test_dml_returning(spark, tmp_path):
    """INSERT/UPDATE/DELETE ... RETURNING (nodeModifyTable.cpp's
    returningList): INSERT returns the inserted rows post-cast,
    UPDATE returns NEW values of the rows the WHERE hit ON OLD VALUES
    (SET v = v + 1 WHERE v = 10 still hits), DELETE returns the OLD
    deleted rows."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE rt (k bigint, v double)")
    rows = eng.sql(
        "INSERT INTO rt VALUES (1, 10.0), (2, 20.0), (3, 30.0)"
        " RETURNING k, v * 2 AS dbl"
    ).collect()
    assert sorted((r.k, r.dbl) for r in rows) == [
        (1, 20.0), (2, 40.0), (3, 60.0)
    ]
    # UPDATE: WHERE evaluates on OLD values, RETURNING sees NEW ones
    rows = eng.sql(
        "UPDATE rt SET v = v + 1 WHERE v = 10.0 RETURNING k, v"
    ).collect()
    assert [(r.k, r.v) for r in rows] == [(1, 11.0)]
    # DELETE returns the old rows
    rows = eng.sql(
        "DELETE FROM rt WHERE k >= 2 RETURNING k, v"
    ).collect()
    assert sorted((r.k, r.v) for r in rows) == [(2, 20.0), (3, 30.0)]
    left = eng.sql("SELECT * FROM rt").collect()
    assert [(r.k, r.v) for r in left] == [(1, 11.0)]
    # plain DML still returns the status frame
    out = eng.sql("UPDATE rt SET v = 0.0 WHERE k = 1").collect()[0]
    assert out.tag == "UPDATE" and out.rows == 1
    eng.sql("DROP TABLE rt")


def test_update_set_splits_at_top_level_commas(spark, tmp_path):
    """A comma inside a string literal does not split UPDATE's SET
    list."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE pt (k bigint, s text, n bigint)")
    eng.sql("INSERT INTO pt VALUES (1, 'a', 0), (2, 'b', 0)")
    eng.sql("UPDATE pt SET s = 'x,y', n = length('p,q') WHERE k = 1")
    rows = eng.sql("SELECT k, s, n FROM pt ORDER BY k").collect()
    assert [tuple(r) for r in rows] == [(1, "x,y", 3), (2, "b", 0)]
    eng.sql("DROP TABLE pt")


def test_returning_splits_at_top_level_commas(spark, tmp_path):
    """A comma inside a string literal does not split a RETURNING
    list."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE pt (k bigint, s text)")
    eng.sql("INSERT INTO pt VALUES (1, 'a'), (2, 'b')")
    rows = eng.sql(
        "UPDATE pt SET s = 'z' WHERE k = 2 RETURNING k, 'c,d' AS tag"
    ).collect()
    assert [(r.k, r.tag) for r in rows] == [(2, "c,d")]
    eng.sql("DROP TABLE pt")


def test_gin_index_staleness_rebuild(spark, tmp_path):
    """A gin index over a MANAGED table auto-rebuilds when the table's
    commit CSN moves (gininsert.cpp maintains entries per INSERT; the
    lazy-rebuild is the fastupdate pending list taken to its limit):
    an INSERT is visible to the next @@ query, DELETE likewise; the
    inline fallback and the indexed route always agree."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE notes AS
        SELECT * FROM VALUES
          (1, 'alpha beta gamma'),
          (2, 'beta gamma delta'),
          (3, 'gamma delta epsilon') AS t(note_id, body)
    """)
    eng.sql("CREATE INDEX notes_gin ON notes USING gin (body)")
    q = ("SELECT note_id FROM notes"
         " WHERE to_tsvector(body) @@ to_tsquery('beta & gamma')"
         " ORDER BY note_id")
    assert [r.note_id for r in eng.sql(q).collect()] == [1, 2]
    eng.sql("INSERT INTO notes SELECT 4, 'beta gamma zeta'")
    assert [r.note_id for r in eng.sql(q).collect()] == [1, 2, 4]
    eng.sql("DELETE FROM notes WHERE note_id = 1")
    assert [r.note_id for r in eng.sql(q).collect()] == [2, 4]
    # OR route and inline (unindexed) predicate agree
    q_or = ("SELECT COUNT(*) AS c FROM notes"
            " WHERE to_tsvector(body) @@ to_tsquery('alpha | zeta')")
    assert eng.sql(q_or).collect()[0].c == 1
    eng.sql("DROP INDEX notes_gin")
    assert eng.sql(q_or).collect()[0].c == 1  # inline fallback
    assert [r.note_id for r in eng.sql(q).collect()] == [2, 4]
    eng.sql("DROP TABLE notes PURGE")


def test_plpgsql_while_counter_loop(spark):
    """Counter-style WHILE loops rewrite into the bounded FOR range
    (exec_stmt_while as one aggregation); the counter's post-loop
    value is its closed form; non-counter shapes refuse clearly."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION wsum(n int) RETURNS bigint AS $$
        DECLARE i bigint := 1; total bigint := 0;
        BEGIN
            WHILE i <= n LOOP
                total := total + i;
                i := i + 1;
            END LOOP;
            RETURN total * 10 + i;
        END;
        $$ LANGUAGE plpgsql
    """)
    # sum(1..n)*10 + (n+1); n=0 never runs, i stays 1
    assert eng.sql("SELECT wsum(4) AS v").collect()[0].v == 105
    assert eng.sql("SELECT wsum(0) AS v").collect()[0].v == 1
    eng.sql("DROP FUNCTION wsum")
    # descending with step and strict bound
    eng.sql("""
        CREATE FUNCTION wdown(n int) RETURNS bigint AS $$
        DECLARE i bigint := 9; total bigint := 0;
        BEGIN
            WHILE i > n LOOP
                total := total + i;
                i := i - 2;
            END LOOP;
            RETURN total * 100 + i;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT wdown(4) AS v").collect()[0].v == 2103
    assert eng.sql("SELECT wdown(9) AS v").collect()[0].v == 9
    eng.sql("DROP FUNCTION wdown")
    with pytest.raises(NotImplementedError, match="counter-style"):
        eng.sql("""
            CREATE FUNCTION wbad(n int) RETURNS bigint AS $$
            DECLARE i bigint := 0; done boolean := false;
            BEGIN
                WHILE done = false LOOP
                    i := i + 1;
                END LOOP;
                RETURN i;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="terminate"):
        eng.sql("""
            CREATE FUNCTION wdiv(n int) RETURNS bigint AS $$
            DECLARE i bigint := 0; t bigint := 0;
            BEGIN
                WHILE i < n LOOP
                    t := t + i;
                    i := i - 1;
                END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_trgm_percent_operator_sql(spark):
    """The pg_trgm % operator in SQL text (trgm_op.cpp similarity_op,
    trgm_limit GUC): inline trigram-set similarity without an index,
    posting semi-join with one — identical matches either way; the
    pg_trgm.similarity_threshold GUC adjusts the bar; string literals
    containing % are never rewritten."""
    eng = Engine(spark, SF_CORRECT)
    q = ("SELECT p_partkey FROM part WHERE p_name % 'smal widgett'"
         " ORDER BY p_partkey")
    inline = [r.p_partkey for r in eng.sql(q).collect()]
    assert inline  # the corpus has fuzzy matches at 0.3
    eng.sql("CREATE INDEX pct_pin ON part USING gin (p_name gin_trgm_ops)")
    try:
        indexed = [r.p_partkey for r in eng.sql(q).collect()]
        assert indexed == inline
        eng.sql("SET pg_trgm.similarity_threshold = 0.05")
        assert eng.sql(q).count() > len(indexed)
        eng.sql("RESET pg_trgm.similarity_threshold")
        assert eng.sql("SELECT 'p % ''x''' AS s").collect()[0].s == "p % 'x'"
        # arithmetic modulo is untouched
        assert eng.sql(
            "SELECT COUNT(*) AS c FROM part WHERE p_partkey % 2 = 0"
        ).collect()[0].c > 0
    finally:
        eng.sql("DROP INDEX pct_pin")


def test_gin_mixed_boolean_and_phrase_routing(spark):
    """Mixed boolean tsqueries route through posting-set algebra
    (INTERSECT/UNION) and phrase queries through the persisted word
    positions; NOT falls back to the inline predicate — all agree
    with the unindexed evaluation."""
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.operators.text import (
        ts_lexemes,
        ts_phrase_match,
    )

    eng = Engine(spark, SF_CORRECT)
    queries = [
        "hash & (join | scan)",
        "(hash | join) & batch",
        "hash & !join",
    ]
    def run(q):
        return sorted(
            r.doc_id for r in eng.sql(
                "SELECT doc_id FROM documents"
                f" WHERE to_tsvector(text) @@ to_tsquery('{q}')"
            ).collect()
        )
    inline = {q: run(q) for q in queries}
    # phrase has no inline SQL form (needs positions) — the DataFrame
    # API is the baseline
    d = eng.table("documents")
    phrase_base = sorted(
        r.doc_id for r in d.filter(
            ts_phrase_match(ts_lexemes(F.col("text")), "hash", "join")
        ).select("doc_id").collect()
    )
    eng.sql("CREATE INDEX mix_gin ON documents USING gin (text)")
    try:
        for q in queries:
            assert run(q) == inline[q], q
        assert phrase_base  # phrase actually matches some
        assert run("hash <-> join") == phrase_base
        # the phrase route reads positions from the index, not text
        df = eng.sql(
            "SELECT doc_id FROM documents"
            " WHERE to_tsvector(text) @@ to_tsquery('hash <-> join')"
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_gin" in plan and "regexp_replace" not in plan
    finally:
        eng.sql("DROP INDEX mix_gin")


def test_plpgsql_foreach_array(spark):
    """FOREACH v IN ARRAY (exec_stmt_foreach_a) folds like the other
    loops; v's post-loop value is the LAST element (unchanged on
    empty/NULL arrays); SLICE refuses."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION fe(a ARRAY<BIGINT>) RETURNS bigint AS $$
        DECLARE
            x bigint := -1;
            total bigint := 0;
        BEGIN
            FOREACH x IN ARRAY a LOOP
                total := total + x;
            END LOOP;
            RETURN total * 10 + x;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql(
        "SELECT fe(array(3, 7, 2)) AS v"
    ).collect()[0].v == 122
    assert eng.sql("SELECT fe(array()) AS v").collect()[0].v == -1
    assert eng.sql(
        "SELECT fe(CAST(NULL AS ARRAY<BIGINT>)) AS v"
    ).collect()[0].v == -1
    eng.sql("DROP FUNCTION fe")
    with pytest.raises(NotImplementedError, match="SLICE"):
        eng.sql("""
            CREATE FUNCTION fs(a ARRAY<BIGINT>) RETURNS bigint AS $$
            DECLARE s text; t bigint := 0;
            BEGIN
                FOREACH s SLICE 1 IN ARRAY a LOOP
                    t := t + 1;
                END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_tsquery_prefix_match(spark):
    """tsquery prefix terms (foo:*, tsquery_gin.cpp partial-match):
    inline, index-routed, and DataFrame paths agree; prefix is a
    superset of the exact term."""
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.operators.text import (
        to_tsquery,
        ts_lexemes,
    )

    eng = Engine(spark, SF_CORRECT)
    q = ("SELECT doc_id FROM documents"
         " WHERE to_tsvector(text) @@ to_tsquery('hash & joi:*')"
         " ORDER BY doc_id")
    inline = [r.doc_id for r in eng.sql(q).collect()]
    assert inline
    exact = [r.doc_id for r in eng.sql(
        "SELECT doc_id FROM documents"
        " WHERE to_tsvector(text) @@ to_tsquery('hash & join')"
        " ORDER BY doc_id"
    ).collect()]
    assert set(exact) <= set(inline)
    eng.sql("CREATE INDEX pfx_gin ON documents USING gin (text)")
    try:
        assert [r.doc_id for r in eng.sql(q).collect()] == inline
    finally:
        eng.sql("DROP INDEX pfx_gin")
    d = eng.table("documents")
    n = d.filter(
        to_tsquery(ts_lexemes(F.col("text")), "hash & joi:*")
    ).count()
    assert n == len(inline)


def test_plainto_websearch_sql_text(spark):
    """plainto_tsquery / websearch_to_tsquery inside @@ SQL text
    (to_tsany.cpp grammars): plainto = AND of words; websearch folds
    OR groups, -negation, and two-word quoted phrases; inline phrase
    evaluation works without an index and agrees with the indexed
    route and the DataFrame helper."""
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.operators.text import (
        ts_lexemes,
        websearch_to_tsquery,
    )

    eng = Engine(spark, SF_CORRECT)
    def cnt(pred):
        return eng.sql(
            f"SELECT COUNT(*) AS c FROM documents WHERE {pred}"
        ).collect()[0].c
    assert cnt("to_tsvector(text) @@ plainto_tsquery('hash join')") \
        == cnt("to_tsvector(text) @@ to_tsquery('hash & join')")
    w = cnt("to_tsvector(text) @@ websearch_to_tsquery("
            "'hash OR join -scan')")
    assert w == cnt("to_tsvector(text) @@ to_tsquery("
                    "'hash | (join & !scan)')")
    assert w == eng.table("documents").filter(
        websearch_to_tsquery(ts_lexemes(F.col("text")),
                             "hash OR join -scan")
    ).count()
    # inline phrase (no index) == indexed phrase == quoted websearch
    phrase = "to_tsvector(text) @@ to_tsquery('hash <-> join')"
    inline = cnt(phrase)
    assert inline > 0
    eng.sql("CREATE INDEX ws_gin ON documents USING gin (text)")
    try:
        assert cnt(phrase) == inline
        assert cnt('to_tsvector(text) @@ websearch_to_tsquery('
                   '\'"hash join"\')') == inline
    finally:
        eng.sql("DROP INDEX ws_gin")
    # round 9: 3+-word quoted phrases compile as followed-by chains
    # (inline here; the indexed route is covered by
    # test_gin_phrase_chain) and agree with the DataFrame helper
    n3 = cnt("to_tsvector(text) @@ websearch_to_tsquery("
             "'\"hash join row\"')")
    assert n3 == eng.table("documents").filter(
        websearch_to_tsquery(ts_lexemes(F.col("text")),
                             '"hash join row"')
    ).count()


def test_gin_phrase_chain(spark, tmp_path):
    """n-word followed-by chains (a <-> b <-> c): the variadic phrase
    node needs ONE common start position carrying every word at its
    offset — pairwise overlap would accept interleaved decoys.
    Indexed (posting positions join) and inline (element_at scan)
    agree, including prefix operands."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE ph3 AS SELECT * FROM VALUES
          (1, 'fast hash join row'),
          (2, 'hash scan join gap row'),
          (3, 'hash join row batch'),
          (4, 'row join hash') AS t(doc_id, body)
    """)
    q = ("SELECT doc_id FROM ph3 WHERE to_tsvector(body) @@"
         " to_tsquery('hash <-> join <-> row') ORDER BY doc_id")
    inline = [r.doc_id for r in eng.sql(q).collect()]
    assert inline == [1, 3]  # doc 2 has the words but not consecutive
    qp = ("SELECT doc_id FROM ph3 WHERE to_tsvector(body) @@"
          " to_tsquery('ha:* <-> join <-> row') ORDER BY doc_id")
    assert [r.doc_id for r in eng.sql(qp).collect()] == [1, 3]
    eng.sql("CREATE INDEX ph3_gin ON ph3 USING gin (body)")
    try:
        assert [r.doc_id for r in eng.sql(q).collect()] == inline
        assert [r.doc_id for r in eng.sql(qp).collect()] == [1, 3]
    finally:
        eng.sql("DROP INDEX ph3_gin")
    # DataFrame helper agrees
    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.operators.text import (
        to_tsquery as tsq,
        ts_lexemes,
    )
    n = eng.spark.table("ph3").filter(
        tsq(ts_lexemes(F.col("body")), "hash <-> join <-> row")
    ).count()
    assert n == 2
    eng.sql("DROP TABLE ph3 PURGE")


def test_gin_routing_binds_predicate_column_table(spark, tmp_path):
    """@@ / %% routing resolves the index from the PREDICATE's column,
    not from the statement's first FROM: in a join whose first
    relation lacks the column, the second relation's index still
    routes; when two scanned relations both own the column the
    rewrite falls back inline (always correct) instead of guessing;
    qualified columns evaluate inline."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE heads AS SELECT * FROM VALUES
          (1, 'intro'), (2, 'main') AS t(doc_id, title)
    """)
    eng.sql("""
        CREATE TABLE bodies AS SELECT * FROM VALUES
          (1, 'alpha beta gamma'), (2, 'gamma delta') AS t(doc_id, body)
    """)
    eng.sql("CREATE INDEX bodies_gin ON bodies USING gin (body)")
    try:
        # first FROM (heads) has no 'body' column: the index on
        # bodies must still serve the predicate
        q = ("SELECT bodies.doc_id AS d FROM heads"
             " JOIN bodies ON heads.doc_id = bodies.doc_id"
             " WHERE to_tsvector(body) @@ to_tsquery('beta')")
        assert [r.d for r in eng.sql(q).collect()] == [1]
        # qualified column: inline evaluation, same answer
        q2 = ("SELECT b.doc_id AS d FROM heads h"
              " JOIN bodies b ON h.doc_id = b.doc_id"
              " WHERE to_tsvector(b.body) @@ to_tsquery('beta')")
        assert [r.d for r in eng.sql(q2).collect()] == [1]
        # ambiguity: a second scanned table owning a same-named
        # indexed column forces the inline fallback, never a guess
        eng.sql("""
            CREATE TABLE bodies2 AS SELECT * FROM VALUES
              (9, 'beta beta') AS t(doc_id, body)
        """)
        eng.sql("CREATE INDEX bodies2_gin ON bodies2 USING gin (body)")
        try:
            q3 = ("SELECT bodies.doc_id AS d FROM bodies, bodies2"
                  " WHERE to_tsvector(bodies.body) @@"
                  " to_tsquery('beta') AND bodies2.doc_id = 9")
            assert [r.d for r in eng.sql(q3).collect()] == [1]
        finally:
            eng.sql("DROP INDEX bodies2_gin")
            eng.sql("DROP TABLE bodies2 PURGE")
    finally:
        eng.sql("DROP INDEX bodies_gin")
        eng.sql("DROP TABLE heads PURGE")
        eng.sql("DROP TABLE bodies PURGE")


def test_gin_phrase_with_prefix_operand(spark, tmp_path):
    """A phrase whose operand is a prefix term (foo:* <-> bar)
    matches by LIKE over the lexemes — indexed and inline agree
    (a literal compare against 'foo:*' would match nothing)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE ph AS SELECT * FROM VALUES
          (1, 'better gamma tail'),
          (2, 'beta delta gamma'),
          (3, 'gamma better') AS t(doc_id, body)
    """)
    q = ("SELECT doc_id FROM ph"
         " WHERE to_tsvector(body) @@ to_tsquery('bet:* <-> gamma')"
         " ORDER BY doc_id")
    inline = [r.doc_id for r in eng.sql(q).collect()]
    assert inline == [1]
    eng.sql("CREATE INDEX ph_gin ON ph USING gin (body)")
    try:
        assert [r.doc_id for r in eng.sql(q).collect()] == inline
    finally:
        eng.sql("DROP INDEX ph_gin")
        eng.sql("DROP TABLE ph PURGE")


def test_default_expression_keyword_inside_literal(spark, tmp_path):
    """Constraint keywords INSIDE a quoted DEFAULT literal never
    terminate the expression (the scan runs over a string-masked
    copy): DEFAULT 'NOT STARTED' survives intact, and a real NOT
    NULL after the literal still parses."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE dk (
            id int,
            status text DEFAULT 'NOT STARTED' NOT NULL,
            note text DEFAULT 'CHECK me later',
            ref text DEFAULT 'PRIMARY REFERENCES UNIQUE'
        )
    """)
    eng.sql("INSERT INTO dk (id) SELECT 7")
    row = eng.sql("SELECT * FROM dk").collect()[0]
    assert row.status == "NOT STARTED"
    assert row.note == "CHECK me later"
    assert row.ref == "PRIMARY REFERENCES UNIQUE"
    eng.sql("DROP TABLE dk PURGE")


def test_while_bound_must_be_loop_invariant(spark):
    """PG re-evaluates the WHILE condition each iteration
    (pl_exec.cpp exec_stmt_while): a bound or step the body reassigns
    cannot take the closed form — the compiler refuses instead of
    silently iterating the wrong count."""
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(NotImplementedError, match="loop-invariant"):
        eng.sql("""
            CREATE FUNCTION wmb(n int) RETURNS bigint AS $$
            DECLARE i bigint := 0; total bigint := 10;
            BEGIN
                WHILE i < total LOOP
                    total := total - 1;
                    i := i + 1;
                END LOOP;
                RETURN i;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="loop-invariant"):
        eng.sql("""
            CREATE FUNCTION wms(n int) RETURNS bigint AS $$
            DECLARE i bigint := 0; s bigint := 1; acc bigint := 0;
            BEGIN
                WHILE i < n LOOP
                    s := s + 1;
                    acc := acc + i;
                    i := i + s;
                END LOOP;
                RETURN acc;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_gin_incremental_delta_maintenance(spark, tmp_path):
    """GIN maintenance is INCREMENTAL for appends (gininsert.cpp
    fastupdate pending list): after an INSERT, the next routed @@
    tokenizes ONLY the newly appended files into a delta posting —
    inputFiles() evidence pins that no old-generation file is
    re-read — and the view serves base ∪ delta; an UPDATE
    (copy-on-write generation bump) compacts via full rebuild; delta
    accumulation past MAX_DELTAS compacts too."""
    from opengauss_vectordb_spark.operators import gin_index as G
    from opengauss_vectordb_spark.operators import index_lifecycle as L

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE inc AS SELECT * FROM VALUES
          (1, 'alpha beta'), (2, 'beta gamma') AS t(doc_id, body)
    """)
    eng.sql("CREATE INDEX inc_gin ON inc USING gin (body)")
    idx = eng.gin_indexes["inc_gin"]
    assert idx["last_maintenance"]["mode"] == "rebuild"
    base_files = set(idx["covered_files"])
    q = ("SELECT doc_id FROM inc"
         " WHERE to_tsvector(body) @@ to_tsquery('beta')"
         " ORDER BY doc_id")
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2]
    # 1-row INSERT: the next routed query builds a DELTA over only
    # the new file(s) — none of the base files are read again
    eng.sql("INSERT INTO inc SELECT 3, 'beta delta'")
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2, 3]
    lm = idx["last_maintenance"]
    assert lm["mode"] == "delta"
    assert lm["input_files"], "delta maintenance read no files?"
    read_names = {f.rsplit("/", 1)[-1] for f in lm["input_files"]}
    assert not (read_names & base_files), (
        "delta maintenance re-read old-generation files: "
        f"{read_names & base_files}"
    )
    assert len(idx["delta_paths"]) == 1
    # the routed query itself reads base ∪ delta postings and never
    # re-tokenizes: its scan files include BOTH posting layouts and
    # its plan carries no tokenizer expression
    df = eng.sql(q)
    files = df.inputFiles()
    assert any("/base/" in f for f in files)
    assert any("/delta_" in f for f in files)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "regexp_replace" not in plan
    # rank search serves from base ∪ delta too
    r = G.gin_rank_search(eng, "inc_gin", ["beta"], k=10).collect()
    assert [x.doc_id for x in r] and len(r) == 3
    # a second append stacks a second delta
    eng.sql("INSERT INTO inc SELECT 4, 'beta epsilon'")
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2, 3, 4]
    assert len(idx["delta_paths"]) == 2
    # copy-on-write rewrite (UPDATE bumps the generation): compaction
    eng.sql("UPDATE inc SET body = 'omega' WHERE doc_id = 1")
    assert [r.doc_id for r in eng.sql(q).collect()] == [2, 3, 4]
    assert idx["last_maintenance"]["mode"] == "rebuild"
    assert idx["delta_paths"] == []
    # delta-count bound: at MAX_DELTAS the deltas MERGE into one
    # (O(delta bytes), base and corpus untouched — LSM level-0)
    old_max = L.MAX_DELTAS
    L.MAX_DELTAS = 2
    try:
        eng.sql("INSERT INTO inc SELECT 5, 'beta zeta'")
        eng.sql(q)  # delta 1
        eng.sql("INSERT INTO inc SELECT 6, 'beta eta'")
        rows = [r.doc_id for r in eng.sql(q).collect()]  # delta 2 → merge
        assert rows == [2, 3, 4, 5, 6]
        assert idx["last_maintenance"]["mode"] == "delta"
        assert len(idx["delta_paths"]) == 1
        assert "merged" in idx["delta_paths"][0]
        eng.sql("INSERT INTO inc SELECT 7, 'beta theta'")
        rows = [r.doc_id for r in eng.sql(q).collect()]
        assert rows == [2, 3, 4, 5, 6, 7]
    finally:
        L.MAX_DELTAS = old_max
    # row-fraction bound: force it to zero → the threshold-crossing
    # append's next query folds base ∪ deltas at the POSTING level
    # (ginfast.cpp ginInsertCleanup) — inputFiles evidence pins that
    # NO relation file is read: compaction is tokenizer-free, the
    # corpus-scale rebuild fires only for content rewrites
    old_min = L.MIN_DELTA_ROWS
    L.MIN_DELTA_ROWS = 0
    old_frac = L.MAX_DELTA_ROW_FRACTION
    L.MAX_DELTA_ROW_FRACTION = 0.0
    try:
        eng.sql("INSERT INTO inc SELECT 8, 'beta iota'")
        rows = [r.doc_id for r in eng.sql(q).collect()]
        assert rows == [2, 3, 4, 5, 6, 7, 8]
        lm = idx["last_maintenance"]
        assert lm["mode"] == "compact"
        assert idx["delta_paths"] == []
        assert "base_c" in idx["base_path"]
        assert lm["input_files"], "compaction read no files?"
        rel_dir = os.path.join(str(tmp_path), "inc")
        assert all(rel_dir not in f for f in lm["input_files"]), (
            "posting-level compaction re-read relation files: "
            f"{[f for f in lm['input_files'] if rel_dir in f]}"
        )
        assert all(idx["path"] in f for f in lm["input_files"])
    finally:
        L.MIN_DELTA_ROWS = old_min
        L.MAX_DELTA_ROW_FRACTION = old_frac
    eng.sql("DROP INDEX inc_gin")
    eng.sql("DROP TABLE inc PURGE")


def test_gin_vacuum_compacts_and_survives_generation_swap(spark, tmp_path):
    """VACUUM is the explicit GIN maintenance spelling (autovacuum's
    ginInsertCleanup): it folds pending deltas into the base at the
    posting level, and the row-preserving file compaction carries the
    index watermarks across the generation swap — the next routed
    query runs with NO maintenance and NO corpus re-tokenize."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE gvc AS SELECT * FROM VALUES"
            " (1, 'alpha beta'), (2, 'beta gamma') AS t(doc_id, body)")
    eng.sql("CREATE INDEX gvc_gin ON gvc USING gin (body)")
    idx = eng.gin_indexes["gvc_gin"]
    q = ("SELECT doc_id FROM gvc"
         " WHERE to_tsvector(body) @@ to_tsquery('beta')"
         " ORDER BY doc_id")
    eng.sql("INSERT INTO gvc SELECT 3, 'beta delta'")
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2, 3]
    assert idx["delta_paths"]  # pending delta
    eng.sql("VACUUM gvc")
    assert idx["delta_paths"] == []
    assert idx["last_maintenance"]["mode"] == "compact"
    rel_dir = os.path.join(str(tmp_path), "gvc")
    assert all(rel_dir not in f
               for f in idx["last_maintenance"]["input_files"])
    # generation swapped, but watermarks carried: the next query is
    # maintenance-free
    assert idx["built_csn"] == eng.managed_tables.latest_commit("gvc")["csn"]
    marker = dict(idx["last_maintenance"])
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2, 3]
    assert idx["last_maintenance"] == marker
    # REINDEX INDEX is the explicit from-scratch spelling
    r = eng.sql("REINDEX INDEX gvc_gin").collect()[0]
    assert r.tag == "REINDEX"
    assert idx["last_maintenance"]["mode"] == "rebuild"
    assert [r.doc_id for r in eng.sql(q).collect()] == [1, 2, 3]


def test_gin_trgm_incremental_delta(spark, tmp_path):
    """The trgm opclass shares the delta path: an append is served
    from base ∪ delta with exact similarity, no corpus re-read."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE tg AS SELECT * FROM VALUES
          (1, 'word processing'), (2, 'cord processing')
          AS t(doc_id, body)
    """)
    eng.sql("CREATE INDEX tg_gin ON tg USING gin (body gin_trgm_ops)")
    idx = eng.gin_indexes["tg_gin"]
    base_files = set(idx["covered_files"])
    q = ("SELECT doc_id FROM tg WHERE body % 'word processing'"
         " ORDER BY doc_id")
    inline_eng = Engine(spark, SF_CORRECT)
    eng.sql("INSERT INTO tg SELECT 3, 'word processor'")
    got = [r.doc_id for r in eng.sql(q).collect()]
    lm = idx["last_maintenance"]
    assert lm["mode"] == "delta"
    read_names = {f.rsplit("/", 1)[-1] for f in lm["input_files"]}
    assert not (read_names & base_files)
    # exact agreement with the inline (unindexed) similarity
    eng.sql("DROP INDEX tg_gin")
    assert [r.doc_id for r in eng.sql(q).collect()] == got
    eng.sql("DROP TABLE tg PURGE")
    del inline_eng


def test_plpgsql_exception_blocks(spark):
    """EXCEPTION blocks, no-subtransaction subset (pl_exec.cpp:95
    exec_stmt_block): straight-line bodies compile to total-function
    CASE guards — division_by_zero from denominators, the cast
    classes from TRY_CAST, OTHERS catching everything including RAISE
    — evaluated in first-error-wins order; unsupported shapes refuse
    naming the rewrite."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION safe_div(a double, b double) RETURNS double AS $$
        BEGIN
            RETURN a / b;
        EXCEPTION WHEN division_by_zero THEN
            RETURN 0.0;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT safe_div(10.0, 4.0) AS v").collect()[0].v == 2.5
    assert eng.sql("SELECT safe_div(10.0, 0.0) AS v").collect()[0].v == 0.0
    eng.sql("DROP FUNCTION safe_div")
    # assignments before the failing op; handler reading a MAIN-BODY
    # variable refuses; reading params is fine
    eng.sql("""
        CREATE FUNCTION ratio_pct(num bigint, den bigint)
        RETURNS double AS $$
        DECLARE r double;
        BEGIN
            r := num / den;
            RETURN r * 100.0;
        EXCEPTION WHEN division_by_zero THEN
            RETURN -1.0;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT ratio_pct(3, 4) AS v").collect()[0].v == 75.0
    assert eng.sql("SELECT ratio_pct(3, 0) AS v").collect()[0].v == -1.0
    eng.sql("DROP FUNCTION ratio_pct")
    # cast classes share TRY_CAST; OTHERS catches RAISE EXCEPTION
    eng.sql("""
        CREATE FUNCTION parse_or(t text, fallback int) RETURNS int AS $$
        BEGIN
            RETURN CAST(t AS int);
        EXCEPTION WHEN invalid_text_representation
                  OR numeric_value_out_of_range THEN
            RETURN fallback;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT parse_or('42', -1) AS v").collect()[0].v == 42
    assert eng.sql("SELECT parse_or('4x2', -1) AS v").collect()[0].v == -1
    assert eng.sql(
        "SELECT parse_or(NULL, -1) AS v"
    ).collect()[0].v is None  # NULL input is not a cast failure
    eng.sql("DROP FUNCTION parse_or")
    eng.sql("""
        CREATE FUNCTION strict_pos(x int) RETURNS int AS $$
        DECLARE y int := x * 2;
        BEGIN
            RAISE EXCEPTION 'negative input';
        EXCEPTION WHEN others THEN
            RETURN -y;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT strict_pos(5) AS v").collect()[0].v == -10
    eng.sql("DROP FUNCTION strict_pos")
    # first-error-wins: the division in statement 1 beats the cast in
    # statement 2 even though the cast handler is declared first
    eng.sql("""
        CREATE FUNCTION two_faults(t text, d int) RETURNS int AS $$
        DECLARE a int; b int;
        BEGIN
            a := 100 / d;
            b := CAST(t AS int);
            RETURN 1;
        EXCEPTION WHEN invalid_text_representation THEN
            RETURN 2;
        WHEN division_by_zero THEN
            RETURN 3;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT two_faults('x', 0) AS v").collect()[0].v == 3
    assert eng.sql("SELECT two_faults('x', 1) AS v").collect()[0].v == 2
    assert eng.sql("SELECT two_faults('7', 1) AS v").collect()[0].v == 1
    eng.sql("DROP FUNCTION two_faults")
    # refusals: control flow, DML, handler reading body-assigned vars,
    # separate cast-class handlers, unknown conditions
    with pytest.raises(NotImplementedError, match="control flow"):
        eng.sql("""
            CREATE FUNCTION e1(x int) RETURNS int AS $$
            BEGIN
                IF x > 0 THEN RETURN 1 / x; END IF;
                RETURN 0;
            EXCEPTION WHEN division_by_zero THEN RETURN -1;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="assigned in the guarded"):
        eng.sql("""
            CREATE FUNCTION e2(x int) RETURNS int AS $$
            DECLARE y int;
            BEGIN
                y := 10 / x;
                RETURN y;
            EXCEPTION WHEN division_by_zero THEN RETURN y;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="SEPARATE"):
        eng.sql("""
            CREATE FUNCTION e3(t text) RETURNS int AS $$
            BEGIN
                RETURN CAST(t AS int);
            EXCEPTION WHEN invalid_text_representation THEN RETURN -1;
            WHEN numeric_value_out_of_range THEN RETURN -2;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="no static guard"):
        eng.sql("""
            CREATE FUNCTION e4(x int) RETURNS int AS $$
            BEGIN
                RETURN x + 1;
            EXCEPTION WHEN unique_violation THEN RETURN -1;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_dynexecute_function(spark, tmp_path):
    """Dynamic EXECUTE inside CREATE FUNCTION bodies runs INTERPRETED
    (pl_exec.cpp:139 exec_stmt_dynexecute behind the function env):
    ||-composed and format()-templated statements with INTO/USING,
    IF + RETURN control flow, EXCEPTION frames, alias handling,
    per-row refusal, non-literal template refusal, and DROP."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE FUNCTION dyn_cnt(tbl text, lim int) RETURNS bigint AS $$
        DECLARE n bigint;
        BEGIN
            EXECUTE 'SELECT COUNT(*) FROM ' || tbl
                    || ' WHERE n_nationkey < $1' INTO n USING lim;
            IF n > 100 THEN RETURN -1; END IF;
            RETURN n;
        END; $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT dyn_cnt('nation', 7) AS c").collect()[0].c == 7
    # default alias = function name
    assert eng.sql("SELECT dyn_cnt('nation', 3)").collect()[0].dyn_cnt == 3
    # RETURN inside an EXCEPTION frame
    eng.sql("""
        CREATE FUNCTION dyn_safe(d int) RETURNS int AS $$
        DECLARE v int;
        BEGIN
            EXECUTE 'SELECT 10 / ' || d INTO v;
            RETURN v;
        EXCEPTION WHEN division_by_zero THEN RETURN -99;
        END; $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT dyn_safe(2) AS v").collect()[0].v == 5
    assert eng.sql("SELECT dyn_safe(0) AS v").collect()[0].v == -99
    # per-row invocation refuses with the rewrite named
    with pytest.raises(NotImplementedError, match="interpreted"):
        eng.sql("SELECT dyn_cnt(n_name, 5) FROM nation").collect()
    # non-literal template text still refuses at call time
    eng.sql("""
        CREATE FUNCTION dyn_bad(q text) RETURNS bigint AS $$
        DECLARE n bigint;
        BEGIN
            EXECUTE reverse(q) INTO n;
            RETURN n;
        END; $$ LANGUAGE plpgsql
    """)
    with pytest.raises(NotImplementedError, match="literal"):
        eng.sql("SELECT dyn_bad('x')").collect()
    r = eng.sql("DROP FUNCTION dyn_cnt").collect()[0]
    assert bool(r.existed)
    with pytest.raises(Exception):
        eng.sql("SELECT dyn_cnt('nation', 7)").collect()


def test_do_block_dynamic_execute(spark, tmp_path):
    """Dynamic EXECUTE in DO blocks, literal-derived subset
    (pl_exec.cpp:139 exec_stmt_dynexecute): format(%I/%L/%s/%%)
    composes from a LITERAL template, || concatenations of literals
    and variables compose, INTO [STRICT] binds results, USING binds
    $n parameters; non-literal templates and arbitrary text-building
    expressions refuse naming the accepted forms."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    out = eng.sql("""
        DO $$
        DECLARE
            tname text := 'dx_t';
            lim bigint := 3;
            cnt bigint;
            top double precision;
        BEGIN
            EXECUTE format('CREATE TABLE %I AS SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < %L', tname, lim);
            EXECUTE 'SELECT COUNT(*) FROM ' || tname INTO STRICT cnt;
            IF cnt <> 3 THEN
                RAISE EXCEPTION 'bad slice';
            END IF;
            EXECUTE format('DELETE FROM %I WHERE n_nationkey = $1', tname)
                USING 1;
            EXECUTE 'SELECT MAX(n_nationkey) FROM ' || tname INTO top;
            RAISE NOTICE 'done';
        END;
        $$
    """).collect()[0]
    assert out.tag == "DO" and out.n_notices == 1
    rows = eng.sql(
        "SELECT n_nationkey FROM dx_t ORDER BY n_nationkey"
    ).collect()
    assert [r.n_nationkey for r in rows] == [0, 2]
    eng.sql("DROP TABLE dx_t PURGE")
    # refusals + STRICT errors
    with pytest.raises(NotImplementedError, match="derive from literals"):
        eng.sql("DO $$ BEGIN EXECUTE some_fn('x'); END; $$")
    with pytest.raises(NotImplementedError, match="derive from literals"):
        eng.sql("""
            DO $$ DECLARE v text := 'SELECT 1';
            BEGIN EXECUTE format(v); END; $$
        """)
    with pytest.raises(NotImplementedError, match="plain identifier"):
        eng.sql("""
            DO $$ DECLARE t text := 'x; DROP TABLE orders';
            BEGIN EXECUTE format('CREATE TABLE %I AS SELECT 1 AS a', t);
            END; $$
        """)
    with pytest.raises(ValueError, match="more than one row"):
        eng.sql("""
            DO $$ DECLARE x bigint;
            BEGIN EXECUTE 'SELECT n_nationkey FROM nation'
                INTO STRICT x; END; $$
        """)
    with pytest.raises(ValueError, match="no rows"):
        eng.sql("""
            DO $$ DECLARE x bigint;
            BEGIN EXECUTE 'SELECT n_nationkey FROM nation WHERE 1=0'
                INTO STRICT x; END; $$
        """)
    # plpgsql FUNCTIONS with EXECUTE register INTERPRETED since
    # round 10 (scalar AND setof — test_plpgsql_dynexecute_function /
    # test_plpgsql_setof_dynexecute cover the surface); an
    # interpreted body with constructs outside the DO-statement
    # subset still fails fast at CREATE
    with pytest.raises(NotImplementedError, match="WHILE"):
        eng.sql("""
            CREATE FUNCTION fdyn(x int) RETURNS int AS $$
            DECLARE n int := 0;
            BEGIN
                EXECUTE 'SELECT 1';
                WHILE n < x LOOP n := n + 1; END LOOP;
                RETURN n;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_setof_dynexecute(spark, tmp_path):
    """RETURN QUERY EXECUTE / RETURN NEXT in SETOF/TABLE interpreted
    functions (pl_exec.cpp exec_stmt_return_query :3585 over
    exec_stmt_dynexecute): the composed statement is a full
    distributed plan, frames union positionally onto the declared
    columns, FROM-position calls view-substitute and re-enter the
    pipeline, and an empty run yields the declared empty schema."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE FUNCTION dyn_nations(tbl text, reg int)
        RETURNS TABLE(k bigint, nm text) AS $$
        BEGIN
            RETURN QUERY EXECUTE format(
 'SELECT n_nationkey, n_name FROM %I WHERE n_regionkey = $1 ORDER BY n_nationkey',
                tbl) USING reg;
            IF reg = 1 THEN
                RETURN NEXT CAST(-1 AS BIGINT), 'SENTINEL';
            END IF;
        END $$ LANGUAGE plpgsql
    """)
    rows = eng.sql(
        "SELECT k, nm FROM dyn_nations('nation', 1) ORDER BY k"
    ).collect()
    assert rows[0].k == -1 and rows[0].nm == "SENTINEL"
    assert [r.k for r in rows[1:]] == [1, 6, 11, 16, 21]
    # composes into a bigger statement (joins, aggregates)
    n = eng.sql(
        "SELECT COUNT(*) AS c FROM dyn_nations('nation', 2) d"
        " JOIN region r ON d.k % 5 = r.r_regionkey"
    ).collect()[0].c
    assert n == 5
    # SETOF <table> return spec takes the table's row type
    eng.sql("""
        CREATE FUNCTION dyn_regions(lim int) RETURNS SETOF region AS $$
        BEGIN
            RETURN QUERY EXECUTE 'SELECT * FROM region ORDER BY'
                || ' r_regionkey LIMIT ' || lim;
        END $$ LANGUAGE plpgsql
    """)
    out = eng.sql("SELECT r_regionkey FROM dyn_regions(3)")
    assert sorted(r.r_regionkey for r in out.collect()) == [0, 1, 2]
    # empty run → declared empty schema
    assert eng.sql(
        "SELECT * FROM dyn_nations('nation', 99)"
    ).count() == 0
    eng.sql("DROP FUNCTION dyn_nations")
    eng.sql("DROP FUNCTION dyn_regions")


def test_cursor_open_fetch_close(spark, tmp_path):
    """OPEN/FETCH/CLOSE cursor statements (pl_exec.cpp
    exec_stmt_open/fetch/close) in DO blocks and interpreted
    functions: straight-line FETCH binds rows positionally (NULLs +
    FOUND false on exhaustion), OPEN is lazy (no job until the first
    FETCH), and the canonical fetch LOOP compiles to ONE bound-cursor
    FOR aggregate — never a driver row loop."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    r = eng.sql("""
        DO $$
        DECLARE c CURSOR FOR SELECT n_nationkey, n_name FROM nation
                              ORDER BY n_nationkey;
                k bigint; nm text;
        BEGIN
            OPEN c;
            FETCH c INTO k, nm;
            FETCH NEXT FROM c INTO k, nm;
            CLOSE c;
            RAISE NOTICE 'got % %', k, nm;
        END $$
    """).collect()[0]
    assert "got 1 NATION_1" in r.notices
    # fetch loop → one aggregate; post-loop targets NULL, FOUND false
    r = eng.sql("""
        DO $$
        DECLARE c CURSOR FOR SELECT n_nationkey FROM nation;
                k bigint; total bigint := 0; n int := 0;
        BEGIN
            OPEN c;
            LOOP
                FETCH c INTO k;
                EXIT WHEN NOT FOUND;
                total := total + k;
                n := n + 1;
            END LOOP;
            CLOSE c;
            RAISE NOTICE 'sum=% n=% k=% found=%', total, n, k, found;
        END $$
    """).collect()[0]
    assert "sum=300 n=25 k=<null> found=false" in r.notices.lower()
    # interpreted function with a cursor
    eng.sql("""
        CREATE FUNCTION cur_first(reg int) RETURNS text AS $$
        DECLARE c CURSOR FOR SELECT n_name FROM nation
                 WHERE n_regionkey = reg ORDER BY n_nationkey;
                nm text;
        BEGIN
            OPEN c;
            FETCH c INTO nm;
            CLOSE c;
            RETURN nm;
        END $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT cur_first(1) AS f").collect()[0].f \
        == "NATION_1"
    eng.sql("DROP FUNCTION cur_first")
    # FETCH on a never-opened cursor errors; a non-fetch bare LOOP
    # still refuses with the rewrite named
    with pytest.raises(KeyError, match="not open"):
        eng.sql("DO $$ DECLARE x int;"
                " BEGIN FETCH nocur INTO x; END $$")
    with pytest.raises(NotImplementedError, match="fetch-loop"):
        eng.sql("DO $$ DECLARE t int := 0;"
                " BEGIN LOOP t := t + 1; END LOOP; END $$")


def test_cursor_fetch_loop_consumed_and_exhausted(spark):
    """The fetch-loop desugar aggregates over the FULL cursor query,
    so it is only sound while the iterator is UNSTARTED (pl_exec.cpp
    exec_stmt_fetch advances a real portal): a loop after a
    straight-line FETCH refuses (PG would count n-1 rows, the
    aggregate would count n), a FETCH after a completed loop finds
    the cursor exhausted (NULL targets, FOUND false — never a
    restart from row 1), and FETCH INTO arity must match the cursor
    columns in both directions."""
    eng = Engine(spark, SF_CORRECT)
    # straight-line FETCH consumed a row → the loop must refuse, not
    # silently double-count it
    with pytest.raises(NotImplementedError, match="consumed"):
        eng.sql("""
            DO $$
            DECLARE c CURSOR FOR SELECT n_nationkey FROM nation
                                  ORDER BY n_nationkey;
                    k bigint; n int := 0;
            BEGIN
                OPEN c;
                FETCH c INTO k;
                LOOP
                    FETCH c INTO k;
                    EXIT WHEN NOT FOUND;
                    n := n + 1;
                END LOOP;
            END $$
        """)
    # FETCH after a completed loop: exhausted, not restarted
    r = eng.sql("""
        DO $$
        DECLARE c CURSOR FOR SELECT n_nationkey FROM nation
                              ORDER BY n_nationkey;
                k bigint; n int := 0;
        BEGIN
            OPEN c;
            LOOP
                FETCH c INTO k;
                EXIT WHEN NOT FOUND;
                n := n + 1;
            END LOOP;
            FETCH c INTO k;
            RAISE NOTICE 'n=% k=% found=%', n, k, found;
            CLOSE c;
        END $$
    """).collect()[0]
    assert "n=25 k=<null> found=false" in r.notices.lower()
    # arity mismatch raises in BOTH directions
    for vs in ("k", "a, b, c2"):
        with pytest.raises(ValueError, match="target variable"):
            eng.sql(f"""
                DO $$
                DECLARE c CURSOR FOR SELECT n_nationkey, n_name
                         FROM nation;
                        k bigint; a bigint; b bigint; c2 bigint;
                        n int := 0;
                BEGIN
                    OPEN c;
                    LOOP
                        FETCH c INTO {vs};
                        EXIT WHEN NOT FOUND;
                        n := n + 1;
                    END LOOP;
                END $$
            """)


def test_plpgsql_exit_when_loop(spark):
    """Bare LOOP with a LEADING EXIT WHEN (pl_exec.cpp
    exec_stmt_exit): a pre-test counter loop that rewrites to the
    counter-WHILE closed form; tail EXIT WHEN compiles as do-while
    (round 10); non-counter conditions refuse naming the rewrite."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION exit_sum(n int) RETURNS bigint AS $$
        DECLARE i bigint := 1; total bigint := 0;
        BEGIN
            LOOP
                EXIT WHEN i > n;
                total := total + i;
                i := i + 1;
            END LOOP;
            RETURN total * 10 + i;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT exit_sum(4) AS v").collect()[0].v == 105
    assert eng.sql("SELECT exit_sum(0) AS v").collect()[0].v == 1
    eng.sql("DROP FUNCTION exit_sum")
    # tail EXIT WHEN is do-while — compiles since round 10 via the
    # one-iteration unroll (t advances once, then 2 > n exits for
    # n <= 1; otherwise runs to the first t failing t <= n)
    eng.sql("""
        CREATE FUNCTION ew1(n int) RETURNS bigint AS $$
        DECLARE t bigint := 0;
        BEGIN
            LOOP t := t + 1; EXIT WHEN t > n; END LOOP;
            RETURN t;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT ew1(4) AS v").collect()[0].v == 5
    assert eng.sql("SELECT ew1(0) AS v").collect()[0].v == 1
    eng.sql("DROP FUNCTION ew1")
    with pytest.raises(NotImplementedError, match="counter conditions"):
        eng.sql("""
            CREATE FUNCTION ew2(n int) RETURNS bigint AS $$
            DECLARE t bigint := 0; done boolean := false;
            BEGIN
                LOOP EXIT WHEN done; t := t + 1; END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_do_block_exception_frame_rollback(spark, tmp_path):
    """EXCEPTION frames in DO blocks (pl_exec.cpp:95 exec_stmt_block)
    with REAL rollback: the frame snapshots managed-table CSNs at
    entry; an error restores every advanced table (TIMECAPSULE
    machinery) and drops block-created tables BEFORE the handler
    search — an unmatched error still rolls back, then re-throws.
    Handlers dispatch on the ACTUAL runtime error; variables keep
    their pre-error values."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE acct AS SELECT * FROM VALUES
          (1, 100.0), (2, 50.0) AS t(id, bal)
    """)
    out = eng.sql("""
        DO $$
        DECLARE denom bigint := 0; moved double precision := 40.0;
                r double precision;
        BEGIN
            UPDATE acct SET bal = bal - moved WHERE id = 1;
            CREATE TABLE audit9 AS SELECT 1 AS seen;
            r := 100 / denom;
            UPDATE acct SET bal = bal + moved WHERE id = 2;
        EXCEPTION WHEN division_by_zero THEN
            RAISE NOTICE 'transfer aborted';
            INSERT INTO acct SELECT 99, moved;
        END;
        $$
    """).collect()[0]
    assert out.n_notices == 1 and "aborted" in out.notices
    state = sorted(
        (r.id, float(r.bal))
        for r in eng.sql("SELECT * FROM acct").collect()
    )
    # both UPDATEs rolled back; the handler's INSERT applied and READ
    # the pre-error variable value (moved = 40.0)
    assert state == [(1, 100.0), (2, 50.0), (99, 40.0)]
    assert "audit9" not in eng.managed_tables.tables  # created → dropped
    # unmatched error: rollback still happens, then re-throw
    with pytest.raises(RuntimeError, match="boom"):
        eng.sql("""
            DO $$
            BEGIN
                DELETE FROM acct WHERE id = 99;
                RAISE EXCEPTION 'boom';
            EXCEPTION WHEN division_by_zero THEN
                RAISE NOTICE 'wrong class';
            END;
            $$
        """)
    assert eng.sql(
        "SELECT COUNT(*) AS c FROM acct WHERE id = 99"
    ).collect()[0].c == 1  # the DELETE rolled back
    # cast failure class + OTHERS catching RAISE
    out = eng.sql("""
        DO $$
        DECLARE v bigint;
        BEGIN
            v := CAST('no' AS bigint);
        EXCEPTION WHEN invalid_text_representation THEN
            RAISE NOTICE 'bad parse';
        END;
        $$
    """).collect()[0]
    assert "bad parse" in out.notices
    # ANSI evaluation is frame-scoped: outside, the engine's
    # non-ANSI semantics are untouched
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    # DDL beyond CREATE refuses inside a guarded block
    with pytest.raises(NotImplementedError, match="undo outside"):
        eng.sql("""
            DO $$
            BEGIN
                DROP TABLE acct;
            EXCEPTION WHEN others THEN RAISE NOTICE 'x';
            END;
            $$
        """)
    with pytest.raises(NotImplementedError, match="no driver-side"):
        eng.sql("""
            DO $$
            BEGIN
                RAISE EXCEPTION 'x';
            EXCEPTION WHEN unique_violation THEN RAISE NOTICE 'x';
            END;
            $$
        """)
    eng.sql("DROP TABLE acct PURGE")


def test_tsquery_distance_phrases(spark, tmp_path):
    """Explicit-distance phrases (tsquery_phrase's ``a <N> b`` — the
    gap is EXACT): parse into the phrasen node with cumulative
    offsets, <1> normalizes to <->, and indexed/inline evaluation
    agree; mixed chains (a <-> b <2> c) compose."""
    from opengauss_vectordb_spark.operators.text import (
        _tsquery_ast,
        _tsquery_text,
    )

    assert _tsquery_ast("a <2> b") == ("phrasen", ("a", 0), ("b", 2))
    assert _tsquery_ast("a <1> b") == ("phrase", "a", "b")
    ast = _tsquery_ast("a <-> b <2> c")
    assert ast == ("phrasen", ("a", 0), ("b", 1), ("c", 3))
    assert _tsquery_ast(_tsquery_text(ast)) == ast
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""
        CREATE TABLE pn AS SELECT * FROM VALUES
          (1, 'hash quick join'), (2, 'hash join'),
          (3, 'hash slow lazy join') AS t(doc_id, body)
    """)
    q2 = ("SELECT doc_id FROM pn WHERE to_tsvector(body) @@"
          " to_tsquery('hash <2> join') ORDER BY doc_id")
    q3 = ("SELECT doc_id FROM pn WHERE to_tsvector(body) @@"
          " to_tsquery('hash <3> join') ORDER BY doc_id")
    assert [r.doc_id for r in eng.sql(q2).collect()] == [1]
    assert [r.doc_id for r in eng.sql(q3).collect()] == [3]
    eng.sql("CREATE INDEX pn_gin ON pn USING gin (body)")
    try:
        assert [r.doc_id for r in eng.sql(q2).collect()] == [1]
        assert [r.doc_id for r in eng.sql(q3).collect()] == [3]
    finally:
        eng.sql("DROP INDEX pn_gin")
        eng.sql("DROP TABLE pn PURGE")


def test_exception_sqlstate_conditions(spark):
    """WHEN SQLSTATE 'code' handler conditions (elog.h errcodes) map
    to the named classes in BOTH exception paths: the plpgsql
    compiled guards and the DO-block runtime frame; unknown codes
    refuse naming the supported set."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION ss_div(a double, b double) RETURNS double AS $$
        BEGIN
            RETURN a / b;
        EXCEPTION WHEN SQLSTATE '22012' THEN
            RETURN -1.0;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT ss_div(4.0, 2.0) AS v").collect()[0].v == 2.0
    assert eng.sql("SELECT ss_div(4.0, 0.0) AS v").collect()[0].v == -1.0
    eng.sql("DROP FUNCTION ss_div")
    out = eng.sql("""
        DO $$
        DECLARE d bigint := 0; r double precision;
        BEGIN
            r := 1 / d;
        EXCEPTION WHEN SQLSTATE '22012' OR SQLSTATE 'P0001' THEN
            RAISE NOTICE 'caught by code';
        END;
        $$
    """).collect()[0]
    assert "caught by code" in out.notices
    with pytest.raises(NotImplementedError, match="no static guard"):
        eng.sql("""
            CREATE FUNCTION ssx(a int) RETURNS int AS $$
            BEGIN
                RETURN a;
            EXCEPTION WHEN SQLSTATE '23505' THEN RETURN -1;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_drop_table_drops_dependent_gin_index(spark, tmp_path):
    """DROP TABLE drops its GIN indexes with it (PG drops dependent
    indexes): a recreated same-name table evaluates @@ inline (or via
    a NEW index) instead of routing through stale postings; EXECUTE
    of a NULL-composed string raises PG's null-query error."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE gdep AS SELECT * FROM VALUES"
            " (1, 'alpha beta') AS t(doc_id, body)")
    eng.sql("CREATE INDEX gdep_gin ON gdep USING gin (body)")
    assert "gdep_gin" in eng.gin_indexes
    eng.sql("DROP TABLE gdep PURGE")
    assert "gdep_gin" not in eng.gin_indexes
    # recreated table with different content: @@ answers from the
    # NEW data (inline), not stale postings
    eng.sql("CREATE TABLE gdep AS SELECT * FROM VALUES"
            " (9, 'gamma delta') AS t(doc_id, body)")
    rows = eng.sql(
        "SELECT doc_id FROM gdep"
        " WHERE to_tsvector(body) @@ to_tsquery('gamma')"
    ).collect()
    assert [r.doc_id for r in rows] == [9]
    assert eng.sql(
        "SELECT COUNT(*) AS c FROM gdep"
        " WHERE to_tsvector(body) @@ to_tsquery('alpha')"
    ).collect()[0].c == 0
    eng.sql("DROP TABLE gdep PURGE")
    with pytest.raises(ValueError, match="null"):
        eng.sql("""
            DO $$ DECLARE q text;
            BEGIN EXECUTE 'SELECT 1 WHERE ' || q; END; $$
        """)


def test_do_block_diagnostics_and_raise_format(spark, tmp_path):
    """GET DIAGNOSTICS v = ROW_COUNT binds the last DML's row count
    (pl_exec exec_stmt_getdiag) and RAISE format strings consume one
    evaluated argument per % ('%%' escapes, NULL renders <NULL>,
    arity mismatches error) — the migration-script reporting idiom."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE dg AS SELECT * FROM VALUES"
            " (1, 'a'), (2, 'b'), (3, 'a') AS t(id, tag)")
    out = eng.sql("""
        DO $$
        DECLARE n bigint; m bigint;
        BEGIN
            UPDATE dg SET tag = 'z' WHERE tag = 'a';
            GET DIAGNOSTICS n = ROW_COUNT;
            DELETE FROM dg WHERE id = 2;
            GET DIAGNOSTICS m := ROW_COUNT;
            RAISE NOTICE 'updated % rows, deleted % (%% done)', n, m;
        END;
        $$
    """).collect()[0]
    assert "updated 2 rows, deleted 1 (% done)" in out.notices
    with pytest.raises(ValueError, match="too few"):
        eng.sql("DO $$ BEGIN RAISE NOTICE 'a % b %', 1; END; $$")
    with pytest.raises(ValueError, match="too many"):
        eng.sql("DO $$ BEGIN RAISE NOTICE 'a %', 1, 2; END; $$")
    eng.sql("DROP TABLE dg PURGE")


def test_plpgsql_raise_format_and_sqlerrm(spark):
    """Compiled plpgsql: RAISE format arguments build a CONCAT inside
    raise_error (one evaluated argument per %, %% escapes); SQLERRM
    inside a handler binds to the guarded class's message; CAST
    targets using PG type aliases (text, int4, float8...) map to
    Spark types before compilation."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION chk(x int) RETURNS text AS $$
        BEGIN
            IF x < 0 THEN
                RAISE EXCEPTION 'bad value: % (limit %)', x, 0;
            END IF;
            RETURN CAST(x AS text);
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT chk(7) AS v").collect()[0].v == "7"
    with pytest.raises(Exception, match=r"bad value: -5 \(limit 0\)"):
        eng.sql("SELECT chk(-5) AS v").collect()
    eng.sql("DROP FUNCTION chk")
    eng.sql("""
        CREATE FUNCTION sdesc(a double, b double) RETURNS text AS $$
        BEGIN
            RETURN CAST(a / b AS text);
        EXCEPTION WHEN division_by_zero THEN
            RETURN 'caught: ' || sqlerrm;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT sdesc(4.0, 2.0) AS v").collect()[0].v == "2.0"
    assert eng.sql(
        "SELECT sdesc(1.0, 0.0) AS v"
    ).collect()[0].v == "caught: division by zero"
    eng.sql("DROP FUNCTION sdesc")
    # DO frame: SQLERRM carries the actual runtime message
    out = eng.sql("""
        DO $$
        DECLARE d bigint := 0; r double precision;
        BEGIN
            r := 1 / d;
        EXCEPTION WHEN others THEN
            RAISE NOTICE 'got: %', sqlerrm;
        END;
        $$
    """).collect()[0]
    assert "DIVIDE_BY_ZERO" in out.notices or "zero" in out.notices


def test_do_block_type_reference_declarations(spark):
    """v tbl.col%TYPE declarations (pl_comp.cpp
    plpgsql_parse_cwordtype) resolve through the catalog in DO
    blocks; the engine-free plpgsql compiler refuses naming the DO
    path; unknown references error clearly."""
    eng = Engine(spark, SF_CORRECT)
    out = eng.sql("""
        DO $$
        DECLARE
            top orders.o_totalprice%TYPE;
            who customer.c_name%TYPE := 'nobody';
        BEGIN
            SELECT MAX(o_totalprice) INTO top FROM orders;
            IF top IS NULL THEN RAISE EXCEPTION 'empty'; END IF;
            RAISE NOTICE 'max is %, who is %', top, who;
        END;
        $$
    """).collect()[0]
    assert "max is" in out.notices and "nobody" in out.notices
    with pytest.raises(KeyError, match="does not resolve"):
        eng.sql("""
            DO $$ DECLARE x nope.col%TYPE; BEGIN x := 1; END; $$
        """)
    with pytest.raises(NotImplementedError, match="concrete type"):
        eng.sql("""
            CREATE FUNCTION ft(x int) RETURNS int AS $$
            DECLARE v orders.o_totalprice%TYPE;
            BEGIN
                RETURN x;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_return_query_setof(spark):
    """Set-returning plpgsql (pl_exec.cpp exec_stmt_return_query :3585,
    exec_stmt_return_next :3334) compiles to ONE Spark SQL table
    function: RETURNS TABLE(...) takes the declared columns, RETURNS
    SETOF <table> takes the table's row type via catalog resolution,
    RETURNS SETOF <scalar> names the column after the function, and
    multiple RETURN QUERY / RETURN NEXT statements append in order
    (UNION ALL)."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION order_slices(minp float8)
        RETURNS TABLE(ck bigint, amt float8) AS $$
        DECLARE
            cap float8 := 250000.0;
        BEGIN
            RETURN QUERY SELECT o_custkey, o_totalprice FROM orders
                WHERE o_totalprice >= minp AND o_totalprice < cap;
            RETURN QUERY SELECT o_custkey, -1.0 * o_totalprice
                FROM orders WHERE o_totalprice >= cap;
            RETURN;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = eng.sql(
        "SELECT COUNT(*) AS n, COUNT(CASE WHEN amt < 0 THEN 1 END)"
        " AS neg FROM order_slices(100000.0)"
    ).collect()[0]
    want = eng.sql(
        "SELECT COUNT(*) AS n,"
        " COUNT(CASE WHEN o_totalprice >= 250000.0 THEN 1 END) AS neg"
        " FROM orders WHERE o_totalprice >= 100000.0"
    ).collect()[0]
    assert (got.n, got.neg) == (want.n, want.neg) and got.n > 0
    eng.sql("DROP FUNCTION order_slices")

    # SETOF <table>: row type resolved from the catalog
    eng.sql("""
        CREATE FUNCTION small_nations(k int) RETURNS SETOF nation AS $$
        BEGIN
            RETURN QUERY SELECT * FROM nation WHERE n_nationkey < k;
        END;
        $$ LANGUAGE plpgsql
    """)
    rows = eng.sql(
        "SELECT n_nationkey, n_name FROM small_nations(3)"
        " ORDER BY n_nationkey"
    ).collect()
    assert [r.n_nationkey for r in rows] == [0, 1, 2]
    eng.sql("DROP FUNCTION small_nations")

    # scalar SETOF + RETURN NEXT; STRICT → empty set on NULL input
    eng.sql("""
        CREATE FUNCTION seqvals(n int) RETURNS SETOF int AS $$
        BEGIN
            RETURN NEXT n;
            RETURN NEXT n + 10;
        END;
        $$ LANGUAGE plpgsql STRICT
    """)
    assert [r.seqvals for r in eng.sql(
        "SELECT * FROM seqvals(5)").collect()] == [5, 15]
    assert eng.sql(
        "SELECT * FROM seqvals(CAST(NULL AS INT))").count() == 0
    eng.sql("DROP FUNCTION seqvals")


def test_plpgsql_setof_refusals(spark):
    """The set-returning subset refuses what it cannot compile, naming
    the rewrite: control flow in the body, untyped SETOF record,
    RETURN NEXT of a composite.  RETURN QUERY EXECUTE routes to the
    interpreted path since round 10 (test_plpgsql_setof_dynexecute)
    — pinned here as working."""
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(NotImplementedError, match="WHERE clause"):
        eng.sql("""
            CREATE FUNCTION srf_if(k int) RETURNS SETOF int AS $$
            BEGIN
                IF k > 0 THEN RETURN NEXT k; END IF;
            END;
            $$ LANGUAGE plpgsql
        """)
    eng.sql("""
        CREATE FUNCTION srf_dyn() RETURNS SETOF int AS $$
        BEGIN
            RETURN QUERY EXECUTE 'SELECT 1';
        END;
        $$ LANGUAGE plpgsql
    """)
    assert [r[0] for r in
            eng.sql("SELECT * FROM srf_dyn()").collect()] == [1]
    eng.sql("DROP FUNCTION srf_dyn")
    with pytest.raises(NotImplementedError, match="record"):
        eng.sql("""
            CREATE FUNCTION srf_rec() RETURNS SETOF record AS $$
            BEGIN
                RETURN QUERY SELECT 1, 2;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="RETURN QUERY"):
        eng.sql("""
            CREATE FUNCTION srf_next_row() RETURNS SETOF nation AS $$
            BEGIN
                RETURN NEXT NULL;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_plpgsql_case_statement(spark):
    """CASE ... END CASE statements (exec_stmt_case) are IF/ELSIF
    sugar: searched and simple forms compile in functions, value lists
    become IN, and a fall-through without ELSE raises the reference's
    CASE_NOT_FOUND."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION case_grade(s int) RETURNS text AS $$
        BEGIN
            CASE s
                WHEN 1, 2 THEN RETURN 'low';
                WHEN 3 THEN RETURN 'mid';
                ELSE RETURN 'high';
            END CASE;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.s: r.g for r in eng.sql(
        "SELECT s, case_grade(s) AS g"
        " FROM (VALUES (1), (2), (3), (9)) AS t(s)"
    ).collect()}
    assert got == {1: "low", 2: "low", 3: "mid", 9: "high"}
    eng.sql("DROP FUNCTION case_grade")

    # searched form, nested CASE *expression* in a branch untouched
    eng.sql("""
        CREATE FUNCTION case_band(p float8) RETURNS text AS $$
        BEGIN
            CASE
                WHEN p >= 100.0 THEN
                    RETURN CASE WHEN p >= 200.0 THEN 'xl' ELSE 'l' END;
                WHEN p >= 10.0 THEN RETURN 'm';
            END CASE;
        END;
        $$ LANGUAGE plpgsql
    """)
    got = {r.p: r.g for r in eng.sql(
        "SELECT p, case_band(CAST(p AS DOUBLE)) AS g"
        " FROM (VALUES (250.0), (150.0), (50.0)) AS t(p)"
    ).collect()}
    assert got == {250.0: "xl", 150.0: "l", 50.0: "m"}
    with pytest.raises(Exception, match="case not found"):
        eng.sql("SELECT case_band(1.0) AS g").collect()
    eng.sql("DROP FUNCTION case_band")


def test_do_block_case_statement(spark):
    """CASE statements in DO blocks dispatch exactly one branch
    (value-list match), and the no-match/no-ELSE path raises."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("CREATE TEMP TABLE case_do_t (k int, v text)")
    try:
        eng.sql("""
            DO $$
            DECLARE
                x int := 3;
            BEGIN
                CASE x
                    WHEN 1 THEN INSERT INTO case_do_t VALUES (1, 'one');
                    WHEN 2, 3 THEN
                        INSERT INTO case_do_t VALUES (2, 'two-three');
                    ELSE INSERT INTO case_do_t VALUES (0, 'other');
                END CASE;
            END
            $$
        """)
        rows = eng.sql("SELECT k, v FROM case_do_t").collect()
        assert [(r.k, r.v) for r in rows] == [(2, "two-three")]
        with pytest.raises(Exception, match="case not found"):
            eng.sql("""
                DO $$
                BEGIN
                    CASE
                        WHEN 1 = 2 THEN
                            INSERT INTO case_do_t VALUES (9, 'never');
                    END CASE;
                END
                $$
            """)
    finally:
        eng.sql("DROP TABLE case_do_t")


def test_do_block_found_variable(spark):
    """The implicit FOUND variable (pl_exec.cpp exec_set_found):
    false at block entry, set true by a SELECT INTO that returns a row
    (an aggregate always does), by DML that touches >=1 row, and by
    PERFORM with >=1 result row; a user DECLARE of the same name
    shadows it."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("CREATE TEMP TABLE found_gate (k int, v text)")
    try:
        eng.sql("""
            DO $$
            DECLARE
                hi float8;
            BEGIN
                IF NOT FOUND THEN
                    INSERT INTO found_gate VALUES (0, 'entry false');
                END IF;
                SELECT MAX(o_totalprice) INTO hi FROM orders;
                IF FOUND THEN
                    INSERT INTO found_gate VALUES (1, 'select hit');
                END IF;
                UPDATE found_gate SET v = 'u' WHERE k = 99;
                IF NOT FOUND THEN
                    INSERT INTO found_gate VALUES (2, 'update missed');
                END IF;
                DELETE FROM found_gate WHERE k = 0;
                IF FOUND THEN
                    INSERT INTO found_gate VALUES (3, 'delete hit');
                END IF;
                PERFORM 1 FROM nation WHERE n_nationkey < 0;
                IF NOT FOUND THEN
                    INSERT INTO found_gate VALUES (4, 'perform empty');
                END IF;
            END
            $$
        """)
        got = [r.k for r in eng.sql(
            "SELECT k FROM found_gate ORDER BY k").collect()]
        assert got == [1, 2, 3, 4]
        # user-declared `found` shadows the implicit variable
        out = eng.sql("""
            DO $$
            DECLARE
                found boolean := TRUE;
            BEGIN
                UPDATE found_gate SET v = 'x' WHERE k = 99;
                RAISE NOTICE 'shadowed=%', found;
            END
            $$
        """).collect()[0]
        assert "shadowed=True" in out.notices
    finally:
        eng.sql("DROP TABLE found_gate")


def test_plpgsql_continue_when(spark):
    """LEADING CONTINUE WHEN statements in accumulator loops compile
    to a row filter over the loop source (exec_stmt_exit is_exit=false
    — skipping the whole remaining body for a row IS a WHERE);
    mid-body CONTINUE and accumulator-reading conditions refuse."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION odds_sum(n int) RETURNS bigint AS $$
        DECLARE
            total bigint := 0;
        BEGIN
            FOR i IN 1..n LOOP
                CONTINUE WHEN i % 2 = 0;
                total := total + i;
            END LOOP;
            RETURN total;
        END;
        $$ LANGUAGE plpgsql
    """)
    r = eng.sql("SELECT odds_sum(10) AS s, odds_sum(0) AS z").collect()[0]
    assert (r.s, r.z) == (25, 0)
    eng.sql("DROP FUNCTION odds_sum")
    with pytest.raises(NotImplementedError, match="LEADING"):
        eng.sql("""
            CREATE FUNCTION midc(n int) RETURNS bigint AS $$
            DECLARE t bigint := 0;
            BEGIN
                FOR i IN 1..n LOOP
                    t := t + i;
                    CONTINUE WHEN i = 3;
                END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)
    with pytest.raises(NotImplementedError, match="sequential"):
        eng.sql("""
            CREATE FUNCTION accc(n int) RETURNS bigint AS $$
            DECLARE t bigint := 0;
            BEGIN
                FOR i IN 1..n LOOP
                    CONTINUE WHEN t > 10;
                    t := t + i;
                END LOOP;
                RETURN t;
            END;
            $$ LANGUAGE plpgsql
        """)


def test_do_block_returning_into(spark):
    """DML ... RETURNING <exprs> INTO [STRICT] v1[, v2] binds the
    RETURNING frame's first row positionally (exec_stmt_execsql's
    INTO path); zero returned rows NULL the targets and clear FOUND."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("CREATE TEMP TABLE ret_gate (k int, v text)")
    try:
        out = eng.sql("""
            DO $$
            DECLARE
                newk int;
                newv text;
            BEGIN
                INSERT INTO ret_gate VALUES (7, 'seven')
                    RETURNING k, v INTO newk, newv;
                RAISE NOTICE 'ins k=% v=% found=%', newk, newv, found;
                UPDATE ret_gate SET v = 'SEVEN' WHERE k = newk
                    RETURNING v INTO newv;
                RAISE NOTICE 'upd v=%', newv;
                DELETE FROM ret_gate WHERE k = 99 RETURNING k INTO newk;
                RAISE NOTICE 'miss k=% found=%', newk, found;
            END
            $$
        """).collect()[0]
        assert "ins k=7 v=seven found=True" in out.notices
        assert "upd v=SEVEN" in out.notices
        assert "miss k=<NULL> found=False" in out.notices
    finally:
        eng.sql("DROP TABLE ret_gate")


def test_plpgsql_assert_statement(spark):
    """ASSERT condition [, 'message'] (exec_stmt_assert) rewrites to
    IF NOT COALESCE(cond, FALSE) RAISE — false AND NULL conditions
    raise, in both compiled functions and DO blocks; an identifier
    merely NAMED assert never triggers the rewrite."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION checked_div(a float8, b float8)
        RETURNS float8 AS $$
        BEGIN
            ASSERT b <> 0, 'divisor must be nonzero';
            RETURN a / b;
        END;
        $$ LANGUAGE plpgsql
    """)
    assert eng.sql("SELECT checked_div(6.0, 2.0) AS r").collect()[0].r == 3.0
    with pytest.raises(Exception, match="divisor must be nonzero"):
        eng.sql("SELECT checked_div(1.0, 0.0) AS r").collect()
    # NULL condition raises too (PG: assert fires unless TRUE)
    with pytest.raises(Exception, match="divisor must be nonzero"):
        eng.sql(
            "SELECT checked_div(1.0, CAST(NULL AS DOUBLE)) AS r"
        ).collect()
    eng.sql("DROP FUNCTION checked_div")
    with pytest.raises(Exception, match="big nation table"):
        eng.sql("""
            DO $$
            DECLARE n bigint;
            BEGIN
                SELECT COUNT(*) INTO n FROM nation;
                ASSERT n > 1000, 'expected a big nation table';
            END
            $$
        """)
    # default message
    with pytest.raises(Exception, match="assertion failed"):
        eng.sql("DO $$ BEGIN ASSERT 1 = 2; END $$")


def test_do_block_for_loops(spark):
    """FOR loops in DO blocks execute as ONE aggregate statement per
    loop (exec_stmt_fors/forc/dynfors): SELECT source, bound-cursor
    source (DECLARE c CURSOR FOR ...), EXECUTE source composed from
    literals and variables, leading CONTINUE WHEN as a row filter,
    and FOUND set from the loop."""
    eng = Engine(spark, SF_CORRECT)
    r = eng.sql("""
        DO $$
        DECLARE
            total DOUBLE PRECISION := 0;
            cnt BIGINT := 0;
            hi DOUBLE PRECISION := 0;
            dyn BIGINT := 0;
            c CURSOR FOR SELECT o_totalprice FROM orders
                         WHERE o_orderkey <= 100;
        BEGIN
            FOR r IN c LOOP
                total := total + r.o_totalprice;
                cnt := cnt + 1;
            END LOOP;
            FOR r IN SELECT o_totalprice AS p FROM orders
                     WHERE o_orderkey <= 50 LOOP
                CONTINUE WHEN r.p < 100000;
                hi := GREATEST(hi, r.p);
            END LOOP;
            FOR r IN EXECUTE 'SELECT o_orderkey AS k FROM orders'
                     || ' WHERE o_orderkey <= ' || cnt LOOP
                dyn := dyn + r.k;
            END LOOP;
            RAISE NOTICE 'total=% cnt=% hi=% dyn=% found=%',
                ROUND(total, 2), cnt, hi, dyn, found;
        END
        $$
    """).collect()[0]
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM"
        f" read_parquet('{SF_CORRECT}/orders.parquet')"
    )
    tot, cnt = con.execute(
        "SELECT ROUND(SUM(o_totalprice), 2), COUNT(*) FROM orders"
        " WHERE o_orderkey <= 100"
    ).fetchone()
    hi = con.execute(
        "SELECT MAX(o_totalprice) FROM orders WHERE o_orderkey <= 50"
        " AND o_totalprice >= 100000"
    ).fetchone()[0]
    dyn = con.execute(
        f"SELECT SUM(o_orderkey) FROM orders WHERE o_orderkey <= {cnt}"
    ).fetchone()[0]
    assert r.notices == (
        f"NOTICE: total={tot} cnt={cnt} hi={hi} dyn={dyn} found=True"
    )


def test_do_block_for_loop_refusals(spark):
    """The loop-shape refusals survive the FOR support: WHILE still
    refuses in DO blocks, an undeclared cursor name raises, a
    non-accumulator loop body refuses with the aggregate-shape
    message, and a mid-body CONTINUE refuses."""
    eng = Engine(spark, SF_CORRECT)
    with pytest.raises(NotImplementedError, match="WHILE"):
        eng.sql("""
            DO $$ BEGIN
                WHILE TRUE LOOP x := 1; END LOOP;
            END $$
        """)
    with pytest.raises(KeyError, match="bound cursor"):
        eng.sql("""
            DO $$
            DECLARE t BIGINT := 0;
            BEGIN
                FOR r IN nocur LOOP t := t + 1; END LOOP;
            END $$
        """)
    with pytest.raises(NotImplementedError, match="accumulator"):
        eng.sql("""
            DO $$
            DECLARE t BIGINT := 0;
            BEGIN
                FOR r IN SELECT 1 AS x LOOP
                    INSERT INTO nowhere VALUES (1);
                END LOOP;
            END $$
        """)
    with pytest.raises(NotImplementedError, match="LEADING"):
        eng.sql("""
            DO $$
            DECLARE t BIGINT := 0;
            BEGIN
                FOR r IN SELECT 1 AS x LOOP
                    t := t + r.x;
                    CONTINUE WHEN r.x > 0;
                END LOOP;
            END $$
        """)


def test_procedure_for_loop(spark):
    """FOR loops work inside CREATE PROCEDURE bodies too (the same
    runner executes both), composing with OUT parameters."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE PROCEDURE sum_keys(IN bound INT, OUT s BIGINT) AS $$
        DECLARE
            c CURSOR FOR SELECT o_orderkey AS k FROM orders
                         WHERE o_orderkey <= bound;
        BEGIN
            s := 0;
            FOR r IN c LOOP
                s := s + r.k;
            END LOOP;
        END
        $$ LANGUAGE PLPGSQL
    """)
    row = eng.sql("CALL sum_keys(101, NULL)").collect()[0]
    assert row.s == 5151


def test_plpgsql_function_bound_cursor_loop(spark):
    """Bound-cursor FOR loops compile in FUNCTION bodies too
    (exec_stmt_forc): DECLARE c CURSOR FOR <query> is pure name
    indirection into the FOR-IN-SELECT fold — one pushed-down scan,
    no Python."""
    eng = Engine(spark, SF_CORRECT)
    eng.sql("""
        CREATE FUNCTION csum_keys(bound INT) RETURNS BIGINT AS $$
        DECLARE
            s BIGINT := 0;
            c CURSOR FOR SELECT o_orderkey AS k FROM orders
                         WHERE o_orderkey <= bound;
        BEGIN
            FOR r IN c LOOP
                s := s + r.k;
            END LOOP;
            RETURN s;
        END;
        $$ LANGUAGE PLPGSQL
    """)
    df = eng.sql("SELECT csum_keys(101) AS s")
    assert df.collect()[0].s == 5151
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(o_orderkey,101)" in plan  # pushdown reached
    assert plan.count("Scan parquet") <= 2  # the fold, never per-row
    assert "BatchEvalPython" not in plan
    # an undeclared cursor name still refuses with the source list
    with pytest.raises(NotImplementedError, match="bound-cursor"):
        eng.sql("""
            CREATE FUNCTION badcur() RETURNS BIGINT AS $$
            DECLARE s BIGINT := 0;
            BEGIN
                FOR r IN nocur LOOP s := s + 1; END LOOP;
                RETURN s;
            END;
            $$ LANGUAGE PLPGSQL
        """)


def test_compat_statement_batch(spark, tmp_path):
    """Regress-frequent compat statements (census of the reference's
    regress suites): B-format CONVERT both forms, LockRows clause
    stripping (SELECT ... FOR UPDATE/SHARE — LockRows is the §2.6 n/a
    set; the SELECT is the meaning), generate_series FunctionScan in
    FROM and SELECT positions, last_insert_id() (MySQL first-id rule),
    CREATE UNIQUE INDEX tolerated as metadata, ALTER INDEX
    RENAME/REBUILD/UNUSABLE across index AMs, ALTER SEQUENCE RESTART."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    assert eng.sql("SELECT CONVERT('123', SIGNED) AS x").collect()[0].x == 123
    assert eng.sql(
        "SELECT CONVERT(CONVERT('7', SIGNED) + 1, CHAR) AS x"
    ).collect()[0].x == "8"
    assert eng.sql(
        "SELECT CONVERT('abc' USING utf8mb4) AS x"
    ).collect()[0].x == "abc"
    assert eng.sql(
        "SELECT o_orderkey FROM orders WHERE o_orderkey = 1"
        " FOR UPDATE"
    ).count() == 1
    assert eng.sql(
        "SELECT o_orderkey FROM orders WHERE o_orderkey = 1"
        " FOR SHARE SKIP LOCKED"
    ).count() == 1
    assert [
        r.i for r in eng.sql(
            "SELECT i FROM generate_series(1, 5) AS g(i) ORDER BY i"
        ).collect()
    ] == [1, 2, 3, 4, 5]
    assert sorted(
        r.generate_series
        for r in eng.sql("SELECT * FROM generate_series(2, 4)").collect()
    ) == [2, 3, 4]
    assert sorted(
        r.n for r in eng.sql("SELECT generate_series(1, 3) AS n").collect()
    ) == [1, 2, 3]
    # last_insert_id: FIRST id of the most recent identity INSERT
    eng.sql("CREATE TABLE li_t (id INT AUTO_INCREMENT, v TEXT)")
    assert eng.sql("SELECT last_insert_id() AS x").collect()[0].x == 0
    eng.sql("INSERT INTO li_t (v) SELECT 'a'")
    eng.sql("INSERT INTO li_t (v) SELECT 'b' UNION ALL SELECT 'c'")
    assert eng.sql("SELECT last_insert_id() AS x").collect()[0].x == 2
    # the name inside a string literal stays inert
    assert eng.sql(
        "SELECT 'last_insert_id()' AS x"
    ).collect()[0].x == "last_insert_id()"
    # UNIQUE index + ALTER INDEX lifecycle
    eng.sql("CREATE TABLE uq_t AS SELECT o_orderkey AS k FROM orders"
            " WHERE o_orderkey <= 50")
    eng.sql("CREATE UNIQUE INDEX uqi ON uq_t (k)")
    eng.sql("ALTER INDEX uqi RENAME TO uqi2")
    assert "uqi2" in eng._btree_indexes and "uqi" not in eng._btree_indexes
    eng.sql("ALTER INDEX uqi2 REBUILD")
    eng.sql("ALTER INDEX uqi2 UNUSABLE")
    with pytest.raises(KeyError, match="not found"):
        eng.sql("ALTER INDEX nope RENAME TO x")
    # GIN rename keeps @@ routing live under the new name
    eng.sql("CREATE INDEX gren ON documents USING gin (to_tsvector(text))")
    eng.sql("ALTER INDEX gren RENAME TO gren2")
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM documents"
        " WHERE to_tsvector(text) @@ to_tsquery('hash')"
    ).collect()[0].n > 0
    eng.sql("DROP INDEX gren2")
    # ALTER SEQUENCE RESTART WITH rewinds the generator
    eng.sql("CREATE SEQUENCE sq2 START 10 INCREMENT 2")
    assert eng.sql("SELECT nextval('sq2')").collect()[0][0] == 10
    eng.sql("ALTER SEQUENCE sq2 RESTART WITH 100")
    assert eng.sql("SELECT nextval('sq2')").collect()[0][0] == 100
    with pytest.raises(NotImplementedError, match="OWNED BY"):
        eng.sql("ALTER SEQUENCE sq2 OWNED BY li_t.id")


def test_compat_statement_batch2(spark, tmp_path):
    """Census batch 2 (regress heads 50-130): UNLOGGED tables,
    DROP INDEX CONCURRENTLY, REINDEX TABLE [CONCURRENTLY], ALTER TYPE
    enum surgery (ADD VALUE BEFORE/AFTER, RENAME VALUE, RENAME TO),
    LARGE SEQUENCE forms, the openGauss CREATE ROW LEVEL SECURITY
    POLICY long form, COPY (query) TO export, VACUUM option words,
    and TEXT SEARCH configuration catalog entries."""
    import os

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE UNLOGGED TABLE ul_t AS SELECT 1 AS k")
    assert eng.sql("SELECT * FROM ul_t").count() == 1
    eng.sql("CREATE INDEX uli ON ul_t (k)")
    eng.sql("DROP INDEX CONCURRENTLY uli")
    assert "uli" not in eng._btree_indexes
    eng.sql("CREATE INDEX uli2 ON ul_t (k)")
    r = eng.sql("REINDEX TABLE CONCURRENTLY ul_t").collect()[0]
    assert r.indexes == 1
    eng.sql("VACUUM ANALYZE ul_t")
    # ALTER TYPE enum surgery keeps declared order
    eng.sql("CREATE TYPE mood AS ENUM ('sad', 'ok', 'happy')")
    eng.sql("ALTER TYPE mood ADD VALUE 'elated' AFTER 'happy'")
    eng.sql("ALTER TYPE mood ADD VALUE 'gloomy' BEFORE 'ok'")
    eng.sql("ALTER TYPE mood RENAME VALUE 'sad' TO 'down'")
    assert eng.user_types["mood"]["labels"] == [
        "down", "gloomy", "ok", "happy", "elated"
    ]
    eng.sql("ALTER TYPE mood RENAME TO temper")
    assert "temper" in eng.user_types and "mood" not in eng.user_types
    with pytest.raises(KeyError):
        eng.sql("ALTER TYPE mood ADD VALUE 'x'")
    # LARGE SEQUENCE = the same generator
    eng.sql("CREATE LARGE SEQUENCE lgs START 5")
    assert eng.sql("SELECT nextval('lgs')").collect()[0][0] == 5
    eng.sql("ALTER LARGE SEQUENCE lgs RESTART WITH 9")
    assert eng.sql("SELECT nextval('lgs')").collect()[0][0] == 9
    eng.sql("DROP LARGE SEQUENCE lgs")
    # openGauss RLS long form registers like CREATE POLICY
    eng.sql("CREATE TABLE rlst AS SELECT 1 AS k, 'alice' AS owner")
    eng.sql("ALTER TABLE rlst ENABLE ROW LEVEL SECURITY")
    eng.sql(
        "CREATE ROW LEVEL SECURITY POLICY p1 ON rlst"
        " USING (owner = current_user())"
    )
    assert "p1" in eng.rls_policies.get("rlst", {})
    eng.sql("DROP ROW LEVEL SECURITY POLICY p1 ON rlst")
    assert "p1" not in eng.rls_policies.get("rlst", {})
    # COPY (query) TO exports any SELECT
    out = str(tmp_path / "copy_q")
    r = eng.sql(
        f"COPY (SELECT r_regionkey FROM region) TO '{out}'"
        " WITH (FORMAT csv)"
    ).collect()[0]
    assert r.rows == 5 and os.path.isdir(out)
    # TEXT SEARCH configuration catalog entries
    eng.sql("CREATE TEXT SEARCH CONFIGURATION myconf (PARSER = default)")
    assert "myconf" in eng.ts_configs
    eng.sql("ALTER TEXT SEARCH CONFIGURATION myconf"
            " ADD MAPPING FOR word WITH simple")
    eng.sql("DROP TEXT SEARCH CONFIGURATION myconf")
    assert "myconf" not in eng.ts_configs
    with pytest.raises(KeyError):
        eng.sql("ALTER TEXT SEARCH CONFIGURATION nope ADD MAPPING"
                " FOR word WITH simple")


def test_alter_table_if_exists_and_abort(spark, tmp_path):
    """ALTER TABLE IF EXISTS skips a missing relation with a notice
    row (tablecmds.cpp missing_ok) and proceeds normally on an
    existing one; ABORT refuses exactly like bare ROLLBACK (both are
    TransactionStmt spellings of the same undo)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    r = eng.sql("ALTER TABLE IF EXISTS nope ADD COLUMN v TEXT").collect()[0]
    assert "does not exist" in r.note
    eng.sql("CREATE TABLE att (k INT)")
    eng.sql("ALTER TABLE IF EXISTS att ADD COLUMN v TEXT")
    assert eng.spark.table("att").columns == ["k", "v"]
    with pytest.raises(NotImplementedError, match="ROLLBACK/ABORT"):
        eng.sql("ABORT")


def test_gin_array_opclass(spark, tmp_path):
    """Array-element GIN opclass (ginarrayproc.cpp): a bare array
    column picks the array opclass by type; overlap/contains/
    contained/equal answer index-only, empty arrays behave per
    array_ops semantics (∅ && x false, x ⊇ ∅ true, ∅ ⊆ x true),
    and appends maintain incrementally like the text opclass."""
    from opengauss_vectordb_spark.operators.gin_index import (
        gin_array_search,
    )

    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql(
        "CREATE TABLE arr_t AS SELECT * FROM VALUES"
        " (1, array(1, 2, 3)), (2, array(2, 4)),"
        " (3, array(5)), (4, array()),"
        " (5, array(2, 2, 3)) AS t(rid, tags)"
    )
    eng.sql("CREATE INDEX arr_gin ON arr_t USING gin (tags)")
    assert eng.gin_indexes["arr_gin"]["kind"] == "array"

    def ids(op, vals):
        return sorted(
            r.doc_id
            for r in gin_array_search(eng, "arr_gin", op, vals).collect()
        )

    assert ids("overlap", [2]) == [1, 2, 5]
    assert ids("overlap", []) == []
    assert ids("contains", [2, 3]) == [1, 5]
    assert ids("contains", []) == [1, 2, 3, 4, 5]
    assert ids("contained", [2, 3, 4]) == [2, 4, 5]  # incl. empty doc 4
    assert ids("contained", []) == [4]
    assert ids("equal", [2, 3]) == [5]  # duplicate elements collapse
    assert ids("equal", [5]) == [3]
    # append: incremental delta, new rows visible
    eng.sql("INSERT INTO arr_t SELECT 6, array(2, 9)")
    assert ids("overlap", [9]) == [6]
    assert eng.gin_indexes["arr_gin"]["last_maintenance"]["mode"] == "delta"


def test_array_operators_sql_text(spark, tmp_path):
    """@>/<@/&& on array columns in SQL text (array_ops;
    ginarrayproc.cpp strategies): inline forall/arrays_overlap
    without an index, posting semi-join with one — same answers."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE at2 AS SELECT * FROM VALUES"
            " (1, array(1,2,3)), (2, array(2,4)), (3, array(5)),"
            " (4, array(2,3)) AS t(rid, tags)")

    def ids(q):
        return [r.rid for r in eng.sql(q).collect()]

    qc = "SELECT rid FROM at2 WHERE tags @> ARRAY[2, 3] ORDER BY rid"
    qo = "SELECT rid FROM at2 WHERE tags && ARRAY[4, 5] ORDER BY rid"
    qd = "SELECT rid FROM at2 WHERE tags <@ ARRAY[2, 3, 4] ORDER BY rid"
    inline = (ids(qc), ids(qo), ids(qd))
    assert inline == ([1, 4], [2, 3], [2, 4])
    eng.sql("CREATE INDEX at2_gin ON at2 USING gin (tags)")
    assert (ids(qc), ids(qo), ids(qd)) == inline
    # operators inside string literals stay inert
    assert eng.sql("SELECT 'a @> ARRAY[1]' AS s").collect()[0].s \
        == "a @> ARRAY[1]"
    # composes with other predicates
    assert ids("SELECT rid FROM at2 WHERE tags @> ARRAY[2]"
               " AND rid > 1 ORDER BY rid") == [2, 4]


def test_array_op_routing_binds_scanned_table(spark, tmp_path):
    """rewrite_array_ops resolves the statement's FROM/JOIN refs
    before routing (the rewrite_tsmatch rule): a query scanning a
    DIFFERENT table that shares the indexed column's name must be
    answered from ITS OWN data, never the index's postings; qualified
    columns stay inline; and integer literals route only against an
    integral element type (against DOUBLE elements the posting
    renders '2.0' and a routed ARRAY[2] would silently miss)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE arx AS SELECT * FROM VALUES"
            " (1, array(1,2)), (2, array(3)) AS t(rid, tags)")
    eng.sql("CREATE INDEX arx_gin ON arx USING gin (tags)")
    assert eng.gin_indexes["arx_gin"]["elem_cat"] == "integral"
    # same-named column on an UNindexed table: its own rows answer
    eng.sql("CREATE TABLE ary AS SELECT * FROM VALUES"
            " (10, array(2)), (11, array(7)) AS t(rid, tags)")
    got = [r.rid for r in eng.sql(
        "SELECT rid FROM ary WHERE tags @> ARRAY[2] ORDER BY rid"
    ).collect()]
    assert got == [10]
    # qualified column: inline predicate, correct rows, valid SQL
    got = [r.rid for r in eng.sql(
        "SELECT a.rid FROM arx a WHERE a.tags && ARRAY[3]"
    ).collect()]
    assert got == [2]
    # DOUBLE element type never routes an integer literal — but the
    # inline predicate still matches 2 = 2.0
    eng.sql("CREATE TABLE arf AS SELECT * FROM VALUES"
            " (1, array(2.0d, 5.0d)), (2, array(9.0d)) AS t(rid, vs)")
    eng.sql("CREATE INDEX arf_gin ON arf USING gin (vs)")
    assert eng.gin_indexes["arf_gin"]["elem_cat"] == "other"
    got = [r.rid for r in eng.sql(
        "SELECT rid FROM arf WHERE vs @> ARRAY[2]"
    ).collect()]
    assert got == [1]


def test_compat_statement_batch3(spark, tmp_path):
    """Census batch 3: CREATE INDEX CONCURRENTLY across AMs, ALTER
    ROLE options (metadata; missing role errors), the SET TRANSACTION
    family as autocommit no-ops, SET LOCAL collapsing to session
    scope, and the honest refusals — PREPARE TRANSACTION (no 2PC
    in-doubt state), CREATE CAST, CREATE OPERATOR."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TABLE cic_t AS SELECT 1 AS k")
    eng.sql("CREATE INDEX CONCURRENTLY cici ON cic_t (k)")
    assert "cici" in eng._btree_indexes
    eng.sql("CREATE ROLE r7b")
    eng.sql("ALTER ROLE r7b PASSWORD 'secret' NOLOGIN")
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("ALTER ROLE ghost LOGIN")
    for s in [
        "SET GLOBAL TRANSACTION ISOLATION LEVEL READ COMMITTED",
        "SET SESSION TRANSACTION READ ONLY",
        "SET TRANSACTION READ ONLY",
    ]:
        assert eng.sql(s).collect()[0].tag == "SET TRANSACTION"
    assert eng.sql("SET LOCAL enable_seqscan = off").collect()[0].guc \
        == "enable_seqscan"
    with pytest.raises(NotImplementedError, match="two-phase"):
        eng.sql("PREPARE TRANSACTION 'tx1'")
    with pytest.raises(NotImplementedError, match="CREATE CAST"):
        eng.sql("CREATE CAST (text AS int) WITH INOUT")
    with pytest.raises(NotImplementedError, match="CREATE OPERATOR"):
        eng.sql("CREATE OPERATOR <<>> (LEFTARG = int, RIGHTARG = int,"
                " PROCEDURE = int4eq)")


def test_generate_series_empty_range_and_edge_keys(spark):
    """PG edge semantics pinned: generate_series(a, b) with a > b is
    ZERO rows (Spark's sequence would auto-negate the step and count
    DOWN), the explicit-negative-step mirror, string_to_array's
    NULL/empty delimiter and empty-input rules, and json arrows with
    path-corrupting keys left untranslated (never malformed SQL)."""
    eng = Engine(spark, SF_CORRECT)
    assert eng.sql(
        "SELECT * FROM generate_series(5, 1) AS g(i)"
    ).count() == 0
    assert [r.i for r in eng.sql(
        "SELECT * FROM generate_series(5, 1, -2) AS g(i)"
    ).collect()] == [5, 3, 1]
    assert eng.sql(
        "SELECT * FROM generate_series(1, 5, -1) AS g(i)"
    ).count() == 0
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT string_to_array('', ',')") == []
    assert one("SELECT string_to_array('abc', '')") == ["abc"]
    assert one("SELECT string_to_array('ab', CAST(NULL AS STRING))") \
        == ["a", "b"]
    # a key with '.' would corrupt the composed JSONPath: the arrow
    # stays untranslated and surfaces as an analyzer error instead of
    # silently-wrong results
    with pytest.raises(Exception):
        eng.sql("SELECT '{}' -> 'a.b'").collect()


def test_json_arrow_operators_sql_text(spark):
    """`->` / `->>` chains in SQL text (jsonfuncs.cpp): path
    composition, the `->` string-requote rendering (with the
    looks-numeric deviation documented), lambda syntax untouched."""
    eng = Engine(spark, SF_CORRECT)
    js = '{"a": {"b": [10, 20, 30]}, "s": "hi", "n": 5, "q": "7"}'
    for q, want in [
        (f"SELECT '{js}' ->> 'n' AS v", "5"),
        (f"SELECT '{js}' -> 's' AS v", '"hi"'),
        (f"SELECT '{js}' -> 'n' AS v", "5"),
        (f"SELECT '{js}' -> 'a' ->> 'b' AS v", "[10,20,30]"),
        (f"SELECT '{js}' -> 'a' -> 'b' -> 1 AS v", "20"),
        (f"SELECT '{js}' ->> 'zz' AS v", None),
        # deviation: a string scalar that lexically looks numeric
        # renders unquoted under -> (use ->> for text extraction)
        (f"SELECT '{js}' -> 'q' AS v", "7"),
        # Spark lambda syntax never rewrites
        ("SELECT aggregate(array(1,2,3), 0, (acc, x) -> acc + x) AS v",
         6),
    ]:
        assert eng.sql(q).collect()[0].v == want, q
    # operators inside string literals stay inert
    assert eng.sql("SELECT 'a ->> b' AS v").collect()[0].v == "a ->> b"


def test_set_current_schema(spark, tmp_path):
    """SET CURRENT_SCHEMA = x (openGauss's path-head spelling, 137
    regress uses) resolves unqualified names exactly like
    search_path; RESET clears it."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE SCHEMA app9")
    eng.sql("CREATE TABLE app9.t9 AS SELECT 42 AS k")
    eng.sql("SET CURRENT_SCHEMA = app9")
    assert eng.sql("SELECT k FROM t9").collect()[0].k == 42
    eng.sql("RESET current_schema")
    with pytest.raises(Exception, match="t9"):
        eng.sql("SELECT k FROM t9").collect()


def test_explain_names_routed_indexes(spark, tmp_path):
    """EXPLAIN on an index-routed statement must NAME the serving
    index and its pruned-unit counts (explain.cpp's 'Index Scan
    using <name>' evidence) for all four text-routable AMs: gin fts
    (@@), gin trgm (%), gist box (&&), and ANN (ORDER BY <->) —
    and an unrouted statement must carry no routing line."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)

    def plan(stmt):
        return "\n".join(
            r["QUERY PLAN"] for r in eng.sql("EXPLAIN " + stmt).collect()
        )

    eng.sql("CREATE TABLE exr AS SELECT * FROM VALUES"
            " (1, 'alpha beta'), (2, 'beta gamma') AS t(doc_id, body)")
    eng.sql("CREATE INDEX exr_gin ON exr USING gin (body)")
    p = plan("SELECT doc_id FROM exr"
             " WHERE to_tsvector(body) @@ to_tsquery('beta & alpha')")
    assert "Index Scan using exr_gin" in p and "2 lexeme(s)" in p
    eng.sql("CREATE INDEX exr_trgm ON exr"
            " USING gin (body gin_trgm_ops)")
    p = plan("SELECT doc_id FROM exr WHERE body % 'alpha'")
    assert "Index Scan using exr_trgm" in p and "trigram(s)" in p
    # gist box operators in SQL text route (and inline-fallback
    # answers stay identical without the index)
    eng.sql("CREATE TABLE exb AS SELECT * FROM VALUES"
            " (1, 0.0d, 0.0d, 1.0d, 1.0d),"
            " (2, 5.0d, 5.0d, 6.0d, 6.0d) AS t(rid, x1, y1, x2, y2)")
    q = ("SELECT rid FROM exb"
         " WHERE box(x1, y1, x2, y2) && box(0.5, 0.5, 5.5, 5.5)"
         " ORDER BY rid")
    inline = [r.rid for r in eng.sql(q).collect()]
    assert inline == [1, 2]
    eng.sql("CREATE INDEX exb_gist ON exb"
            " USING gist (box(x1, y1, x2, y2))")
    assert [r.rid for r in eng.sql(q).collect()] == inline
    p = plan(q)
    assert "Index Scan using exb_gist" in p and "buckets read" in p
    # ANN: canonical ORDER BY <-> routes through the ivfflat index
    eng.sql("CREATE INDEX exv_ivf ON embeddings"
            " USING ivfflat (embedding vector_l2_ops)"
            " WITH (lists = 4)")
    p = plan("SELECT vec_id FROM embeddings"
             " ORDER BY embedding <-> '[0.1, 0.2, 0.3]' LIMIT 5")
    assert "Index Scan using exv_ivf" in p and "probes=" in p
    eng.sql("DROP INDEX exv_ivf")
    # no routing line on a plain statement
    p = plan("SELECT COUNT(*) FROM exr")
    assert "Index Scan using" not in p


def test_compat_statement_batch6(spark, tmp_path):
    """Census batch 6 (round 11): CREATE/DROP/ALTER DATABASE (297/309
    regress uses — Spark catalog databases, PG/openGauss option tails
    stripped and named in the status frame), CREATE/DROP SYNONYM (the
    A-format alias, commands/synonym.cpp — a live temp view over the
    target), and ALTER FUNCTION (RENAME TO recreates the session
    function from its stored DDL; OWNER/volatility/SET are metadata
    no-ops — Catalyst decides foldability from the inlined body)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    r = eng.sql("CREATE DATABASE regdb6 WITH OWNER = alice"
                " ENCODING = 'UTF8' DBCOMPATIBILITY 'B'").collect()[0]
    assert r.database == "regdb6" and "OWNER" in r.options_elided
    assert any(d.name == "regdb6"
               for d in spark.catalog.listDatabases())
    eng.sql("DROP DATABASE regdb6")
    assert not any(d.name == "regdb6"
                   for d in spark.catalog.listDatabases())
    r = eng.sql("ALTER DATABASE somedb CONNECTION LIMIT 10").collect()[0]
    assert r.note == "metadata no-op"
    # synonyms: live alias over a relation
    eng.sql("CREATE TABLE syn_t AS SELECT n_nationkey, n_name"
            " FROM nation WHERE n_nationkey < 3")
    eng.sql("CREATE SYNONYM syn_alias FOR syn_t")
    assert eng.sql("SELECT COUNT(*) AS n FROM syn_alias"
                   ).collect()[0].n == 3
    eng.sql("INSERT INTO syn_t SELECT 99, 'NEW'")
    # LIVE: the alias sees the write
    assert eng.sql("SELECT COUNT(*) AS n FROM syn_alias"
                   ).collect()[0].n == 4
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE SYNONYM syn_alias FOR nation")
    eng.sql("CREATE OR REPLACE SYNONYM syn_alias FOR nation")
    assert eng.sql("SELECT COUNT(*) AS n FROM syn_alias"
                   ).collect()[0].n == 25
    assert eng.sql("DROP SYNONYM syn_alias").collect()[0].existed
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("DROP SYNONYM syn_alias")
    with pytest.raises(KeyError, match="not found"):
        eng.sql("CREATE SYNONYM s2 FOR no_such_rel")
    eng.sql("DROP TABLE syn_t PURGE")
    # ALTER FUNCTION
    eng.sql("CREATE FUNCTION af_double(x int) RETURNS int"
            " AS 'SELECT x * 2' LANGUAGE SQL")
    r = eng.sql("ALTER FUNCTION af_double(int) IMMUTABLE").collect()[0]
    assert r.action == "metadata no-op"
    eng.sql("ALTER FUNCTION af_double(int) RENAME TO af_twice")
    assert eng.sql("SELECT af_twice(21) AS v").collect()[0].v == 42
    with pytest.raises(Exception):
        eng.sql("SELECT af_double(1) AS v")
    assert "af_twice" in eng.sql_functions
    assert "af_double" not in eng.sql_functions
    eng.sql("DROP FUNCTION af_twice")
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("ALTER FUNCTION never_was(int) IMMUTABLE")


def test_compat_function_batch7(spark, tmp_path):
    """Census batch 7 (round 11): array_length (1-D model, PG's
    empty-array-is-NULL rule), lengthb (byte length), nlssort (UTF-8
    binary sort key — the documented collation position), standalone
    to_tsvector (the sorted-distinct lexeme render, strip() form),
    the contrib/hll sketch-building spellings onto Spark's native
    datasketches (hll_add_agg/hll_cardinality), and pg_get_tabledef
    (CREATE TABLE text from the current schema)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT array_length(array(1,2,3), 1)") == 3
    assert one("SELECT array_length(array(1,2,3), 2)") is None
    assert one("SELECT array_length(array(), 1)") is None
    assert one("SELECT lengthb('héllo')") == 6
    assert one("SELECT lengthb('hello')") == 5
    assert one("SELECT nlssort('abc', 'NLS_SORT=SCHINESE_PINYIN_M')") \
        == "abc"
    assert one("SELECT to_tsvector('The quick, quick fox!')") \
        == "fox quick the"
    # hll spellings: exact on small distinct counts, union-able
    n = one("SELECT hll_cardinality(hll_add_agg(hll_hash_integer("
            "CAST(n_nationkey AS INT)))) FROM nation")
    assert n == 25
    # pg_get_tabledef renders the current schema
    eng.sql("CREATE TABLE td_t AS SELECT CAST(1 AS BIGINT) AS k,"
            " 'x' AS name, CAST(2.5 AS DOUBLE) AS v")
    ddl = one("SELECT pg_get_tabledef('td_t')")
    assert "CREATE TABLE td_t" in ddl
    assert "k bigint" in ddl and "name text" in ddl \
        and "v double precision" in ddl
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("SELECT pg_get_tabledef('never_was')")
    eng.sql("DROP TABLE td_t PURGE")


def test_compat_function_batch8(spark, tmp_path):
    """Census batch 8 (round 11): array_upper/array_replace (1-D
    model; NULL-safe replace, string-element result is the documented
    deviation), pg_size_pretty (dbsize.cpp's 1024 steps with half-up
    rounding), advisory locks as the single-session vacuous contract,
    opengauss_version, and the pg_[total_]relation_size disk-bytes
    probes (composable with pg_size_pretty)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT array_upper(array(7,8), 1)") == 2
    assert one("SELECT array_upper(array(), 1)") is None
    assert one("SELECT array_replace(array('a','b','a'), 'a', 'z')") \
        == ["z", "b", "z"]
    # NULL-safe: from = NULL replaces NULL elements (PG's rule)
    assert eng.sql(
        "SELECT array_replace(array('a', CAST(NULL AS STRING)),"
        " CAST(NULL AS STRING), 'n') AS v"
    ).collect()[0].v == ["a", "n"]
    assert one("SELECT pg_size_pretty(CAST(512 AS BIGINT))") \
        == "512 bytes"
    assert one("SELECT pg_size_pretty(CAST(10485760 AS BIGINT))") \
        == "10 MB"
    assert one("SELECT pg_size_pretty(CAST(10239 AS BIGINT))") \
        == "10239 bytes"
    assert one("SELECT pg_advisory_lock(42)") is None
    assert one("SELECT pg_advisory_unlock(42)") is True
    assert "Spark" in one("SELECT opengauss_version()")
    # relation-size probes over a managed table and a catalog table
    eng.sql("CREATE TABLE sz_t AS SELECT * FROM nation")
    n = one("SELECT pg_total_relation_size('sz_t')")
    assert n > 0
    assert one("SELECT pg_relation_size('nation')") > 0
    pretty = one("SELECT pg_size_pretty(pg_total_relation_size"
                 "('sz_t'))")
    assert pretty.endswith((" bytes", " kB", " MB"))
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("SELECT pg_relation_size('never_was')")
    eng.sql("DROP TABLE sz_t PURGE")


def test_explain_poly_recheck_counts(spark, tmp_path):
    """EXPLAIN over a routed polygon containment prints the LOSSY
    evidence (round 11 — the r10 verdict's routing-evidence item):
    candidate count from the MBR phase vs exact ray-cast survivors
    (the reference's 'Rows Removed by Index Recheck' line).  The
    fixture polygon's bounding box contains a point its exact
    geometry does not, so candidates > survivors by construction."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    # a concave V-shaped polygon: bbox [0,2]x[0,2] contains (1, 1.5)
    # but the polygon itself does not (the notch)
    eng.sql(
        "CREATE TABLE pxr AS SELECT * FROM VALUES"
        " (1, array(0.0d, 0.0d, 2.0d, 0.0d, 2.0d, 2.0d, 1.0d, 1.0d,"
        " 0.0d, 2.0d)),"
        " (2, array(10.0d, 10.0d, 12.0d, 10.0d, 11.0d, 12.0d))"
        " AS t(rid, poly)"
    )
    eng.sql("CREATE INDEX pxr_gist ON pxr USING gist (poly(poly))")
    q = "SELECT rid FROM pxr WHERE poly @> point(1, 1.5)"
    assert [r.rid for r in eng.sql(q).collect()] == []
    p = "\n".join(
        r["QUERY PLAN"] for r in eng.sql("EXPLAIN " + q).collect()
    )
    assert "Index Scan using pxr_gist" in p
    assert "candidates 1" in p
    assert "recheck survivors 0" in p
    assert "rows removed by recheck: 1" in p


def test_bloom_prefilter_stats(spark):
    """The decontamination bloom prefilter's routing evidence (round
    11): the sketch is EXACTLY 8 KB regardless of corpus size (the
    broadcast-variable shape), and the map-side probe prunes the
    overwhelming share of train shingles before the verify join —
    the property that makes exact decontamination affordable at
    100 TB."""
    from opengauss_vectordb_spark.operators.pipeline import (
        bloom_prefilter_stats,
    )

    stats = bloom_prefilter_stats(spark, SF_CORRECT)
    assert stats["sketch_bytes"] == 8192
    assert stats["bloom_bits"] == 65536
    assert stats["train_shingles"] > 0
    assert stats["probe_survivors"] < stats["train_shingles"]
    # the eval split is ~1% of docs; the probe must prune the vast
    # majority of train shingles (contaminated overlap + ~2e-5 FP)
    assert stats["prune_ratio"] > 0.5


def test_explain_paren_options(spark):
    """EXPLAIN (COSTS OFF[, ...]) — the parenthesized option-list
    spelling (~4,900 regress uses): ANALYZE/VERBOSE take effect,
    display options are accepted (Catalyst's rendering has no PG cost
    numbers to switch off), unknown options refuse."""
    eng = Engine(spark, SF_CORRECT)
    assert eng.sql(
        "EXPLAIN (COSTS OFF) SELECT COUNT(*) FROM region"
    ).count() > 0
    assert eng.sql(
        "EXPLAIN (ANALYZE, COSTS OFF, TIMING OFF) SELECT 1 AS x"
    ).count() > 0
    # VERBOSE inside the option list switches to the extended render
    plain = "\n".join(
        r["QUERY PLAN"] for r in
        eng.sql("EXPLAIN (COSTS OFF) SELECT 1 AS x").collect()
    )
    verb = "\n".join(
        r["QUERY PLAN"] for r in
        eng.sql("EXPLAIN (VERBOSE, COSTS OFF) SELECT 1 AS x").collect()
    )
    assert "Analyzed Logical Plan" in verb
    assert "Analyzed Logical Plan" not in plain
    with pytest.raises(ValueError, match="unrecognized option"):
        eng.sql("EXPLAIN (BOGUS) SELECT 1")


def test_compat_statement_batch4(spark, tmp_path):
    """Census batch 4: PG format() with literal templates (%s/%I/%L,
    n$ positions, %% — compiled to a concat, no UDF), numeric
    trunc(x[, s]) toward zero (date trunc keeps Spark's builtin),
    SHOW WARNINGS/ERRORS as the empty diagnostics frame, and the
    argued refusals — CREATE AGGREGATE / RULE / EVENT."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT format('%s-%s', 'a', 1)") == "a-1"
    assert one("SELECT format('Hello %s, 100%%', NULL)") \
        == "Hello , 100%"
    assert one("SELECT format('%I = %L', 'my col', NULL)") \
        == '"my col" = NULL'
    assert one("SELECT format('%2$s %1$s', 'b', 'a')") == "a b"
    assert str(one("SELECT trunc(4.7)")) == "4"
    assert str(one("SELECT trunc(-4.7)")) == "-4"
    assert one("SELECT trunc(42.4382, 2)") == 42.43
    assert one("SELECT trunc(-42.4382, 2)") == -42.43
    assert str(one("SELECT trunc(DATE '2001-03-14', 'MM')")) \
        == "2001-03-01"
    # width/flag specs leave the call untranslated (analyzer error,
    # never silently-dropped padding)
    with pytest.raises(Exception):
        eng.sql("SELECT format('%5s', 'x')").collect()
    assert eng.sql("SHOW WARNINGS").count() == 0
    assert eng.sql("SHOW ERRORS LIMIT 5").count() == 0
    assert eng.sql("SHOW COUNT(*) WARNINGS").collect()[0][0] == 0
    for stmt, msg in [
        ("CREATE RULE r1 AS ON INSERT TO region DO NOTHING",
         "triggers"),
        ("CREATE EVENT e1 ON SCHEDULE EVERY 1 DAY DO SELECT 1",
         "scheduler"),
    ]:
        with pytest.raises(NotImplementedError, match=msg):
            eng.sql(stmt)
    # CREATE AGGREGATE executes since round 11 (the old-syntax
    # BASETYPE spelling; int4pl has no Spark builtin, so the bare
    # name passes into the fold and errors at USE, never silently) —
    # test_create_aggregate_sql_transitions pins the semantics
    tag = eng.sql(
        "CREATE AGGREGATE myagg (BASETYPE = int, SFUNC = int4pl,"
        " STYPE = int, INITCOND = '0')"
    ).collect()[0]
    assert (tag.tag, tag.aggregate) == ("CREATE AGGREGATE", "myagg")
    eng.sql("DROP AGGREGATE myagg(int)")


def test_pg_datetime_models_sql_text(spark):
    """PG/Oracle datetime format models route from SQL text through
    the DCH translation (formatting.cpp): to_timestamp/to_date parse,
    to_char renders, nested calls rewrite, Spark-native lowercase
    patterns stay untouched, and numeric to_char follows PG's
    sign-slot/rounding/overflow rules."""
    eng = Engine(spark, SF_CORRECT)
    one = lambda q: str(eng.sql(q).collect()[0][0])  # noqa: E731
    assert one("SELECT to_timestamp('2020-03-05 14:30:00',"
               " 'YYYY-MM-DD HH24:MI:SS')") == "2020-03-05 14:30:00"
    assert one("SELECT to_date('05 Dec 2000', 'DD Mon YYYY')") \
        == "2000-12-05"
    assert one("SELECT to_char(TIMESTAMP '2020-03-05 14:30:00',"
               " 'Mon DD, YYYY')") == "Mar 05, 2020"
    assert one("SELECT to_char(DATE '2020-03-07', 'Dy')") == "Sat"
    # nested: to_date of a to_char rendering round-trips
    assert one("SELECT to_date(to_char(DATE '2021-05-09',"
               " 'YYYY-MM-DD'), 'YYYY-MM-DD')") == "2021-05-09"
    # Spark-native patterns keep Spark's parser
    assert one("SELECT to_timestamp('2020-03-05', 'yyyy-MM-dd')") \
        == "2020-03-05 00:00:00"
    # numeric models: PG sign slot, rounding, '#' overflow fill
    assert one("SELECT to_char(12345.678, '99999.99')") == " 12345.68"
    assert one("SELECT to_char(-12345.678, '99999.99')") == "-12345.68"
    assert one("SELECT to_char(12345.678, '999.99')") == "#######"
    assert one("SELECT to_char(42, 'FM999')") == "42"
    # B-format charset introducers strip (UTF-8 end-to-end position)
    assert one("SELECT _utf8'hello'") == "hello"
    assert one("SELECT concat(_utf8mb4'a', _binary'b')") == "ab"


def test_insert_ignore_error_hint(spark, tmp_path):
    """/*+ ignore_error */ (B-format sql_ignore; regress ignore/
    suite): rows the write-side validators would abort on — no
    matching partition, invalid enum label — FILTER out of the batch
    instead, and the result frame reports the skipped count; the
    plain INSERT keeps aborting."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("""CREATE TABLE pt_ig (k INT, v TEXT)
               PARTITION BY RANGE (k) (
                 PARTITION p1 VALUES LESS THAN (10),
                 PARTITION p2 VALUES LESS THAN (20))""")
    with pytest.raises(Exception):
        eng.sql("INSERT INTO pt_ig VALUES (5, 'a'), (25, 'bad')")
    r = eng.sql("INSERT /*+ ignore_error */ INTO pt_ig VALUES"
                " (5, 'a'), (25, 'bad'), (15, 'b')").collect()[0]
    assert r.skipped == 1
    assert sorted((x.k, x.v)
                  for x in eng.spark.table("pt_ig").collect()) \
        == [(5, "a"), (15, "b")]
    # a clean batch skips nothing
    r = eng.sql("INSERT /*+ ignore_error */ INTO pt_ig"
                " VALUES (7, 'c')").collect()[0]
    assert r.skipped == 0
    eng.sql("CREATE TYPE ig_mood AS ENUM ('sad', 'ok')")
    eng.sql("CREATE TABLE em_ig (k INT, m ig_mood)")
    r = eng.sql("INSERT /*+ ignore_error */ INTO em_ig VALUES"
                " (1, 'ok'), (2, 'angry')").collect()[0]
    assert r.skipped == 1
    assert [(x.k, x.m) for x in eng.spark.table("em_ig").collect()] \
        == [(1, "ok")]


def test_compat_statement_batch5(spark, tmp_path):
    """Census batch 5: EXECUTE IMMEDIATE (A-format dynamic SQL — the
    keyword strips into the same literal-derived path),
    to_binary_float/double, ALTER SYSTEM SET/RESET as session GUCs,
    and has_table_privilege probes answering from the ACL registry
    (2-arg session-role and 3-arg named-role forms, comma list = OR,
    missing role errors)."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    r = eng.sql("""DO $$ DECLARE n bigint;
        BEGIN EXECUTE IMMEDIATE 'SELECT COUNT(*) FROM region' INTO n;
        RAISE NOTICE 'n=%', n; END $$""").collect()[0]
    assert "n=5" in r.notices
    row = eng.sql("SELECT to_binary_float('3.5') AS f,"
                  " to_binary_double('2.25') AS d").collect()[0]
    assert row.f == 3.5 and row.d == 2.25
    eng.sql("ALTER SYSTEM SET work_mem = '64MB'")
    assert eng.sql("SHOW work_mem").collect()[0].value == "64MB"
    eng.sql("ALTER SYSTEM RESET work_mem")
    with pytest.raises(KeyError):
        eng.sql("SHOW work_mem")
    eng.sql("CREATE TABLE acl_b5 AS SELECT 1 AS k")
    eng.sql("CREATE ROLE b5_yes")
    eng.sql("CREATE ROLE b5_no")
    eng.sql("GRANT SELECT ON acl_b5 TO b5_yes")
    hp = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert hp("SELECT has_table_privilege('b5_yes', 'acl_b5',"
              " 'SELECT')") is True
    assert hp("SELECT has_table_privilege('b5_no', 'acl_b5',"
              " 'SELECT')") is False
    assert hp("SELECT has_table_privilege('b5_no', 'acl_b5',"
              " 'INSERT, SELECT') AS ok") is False
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("SELECT has_table_privilege('ghost', 'acl_b5',"
                " 'SELECT')")


def test_viewdef_and_ts_lexize(spark, tmp_path):
    """pg_get_viewdef returns the stored view text (ruleutils.cpp —
    the stored text IS the definition in a text-view engine) and
    ts_lexize lexizes through the one documented dictionary
    (lowercasing 'simple'); a missing view errors."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE VIEW vd5 AS SELECT r_regionkey FROM region"
            " WHERE r_regionkey > 1")
    assert eng.sql("SELECT pg_get_viewdef('vd5')").collect()[0][0] \
        == "SELECT r_regionkey FROM region WHERE r_regionkey > 1"
    with pytest.raises(KeyError, match="does not exist"):
        eng.sql("SELECT pg_get_viewdef('ghost_view')")
    assert eng.sql("SELECT ts_lexize('english_stem', 'Walking') AS l"
                   ).collect()[0].l == ["walking"]
    assert eng.sql("SELECT ts_lexize('simple', CAST(NULL AS STRING))"
                   " AS l").collect()[0].l is None


def test_update_ignore_error_and_set_config(spark, tmp_path):
    """UPDATE /*+ ignore_error */: rows whose NEW enum value would
    abort keep their OLD values (the hit condition narrows; skipped
    count reported); set_config/current_setting read/write the
    session GUC store, with missing_ok returning NULL."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    eng.sql("CREATE TYPE uig_m AS ENUM ('sad', 'ok', 'happy')")
    eng.sql("CREATE TABLE uig (k INT, m uig_m)")
    eng.sql("INSERT INTO uig VALUES (1, 'sad'), (2, 'ok'), (3, 'sad')")
    with pytest.raises(Exception):
        eng.sql("UPDATE uig SET m = 'angry' WHERE k < 3")
    r = eng.sql(
        "UPDATE /*+ ignore_error */ uig SET m = CASE WHEN k = 1"
        " THEN 'angry' ELSE 'happy' END WHERE k < 3"
    ).collect()[0]
    assert (r.rows, r.skipped) == (1, 1)
    assert sorted((x.k, x.m)
                  for x in eng.spark.table("uig").collect()) \
        == [(1, "sad"), (2, "happy"), (3, "sad")]
    assert eng.sql("SELECT set_config('app.tenant', 't42', false)"
                   ).collect()[0][0] == "t42"
    assert eng.sql("SELECT current_setting('app.tenant') AS v"
                   ).collect()[0].v == "t42"
    assert eng.sql("SELECT current_setting('app.none', true)"
                   ).collect()[0][0] is None
    with pytest.raises(KeyError):
        eng.sql("SELECT current_setting('app.none')")


def test_similar_to_dow_and_small_macros(spark):
    """SIMILAR TO (similar_to_escape: % -> .*, _ -> . , '.' literal,
    POSIX subset passes, anchored, escapes honored), the PG dow/isodow
    day-numbering correction (Sunday=0 / Monday=1 — Spark's
    dayofweek is off by one), and the small macros: quote_nullable,
    getdate, bare LOCALTIMESTAMP."""
    eng = Engine(spark, SF_CORRECT)
    one = lambda q: eng.sql(q).collect()[0][0]  # noqa: E731
    assert one("SELECT 'abc' SIMILAR TO 'a%'") is True
    assert one("SELECT 'abc' SIMILAR TO '_b_'") is True
    assert one("SELECT 'axc' SIMILAR TO 'a.c'") is False
    assert one("SELECT 'a.c' SIMILAR TO 'a.c'") is True
    assert one("SELECT 'abc' NOT SIMILAR TO '(a|z)%'") is False
    assert one("SELECT 'a%c' SIMILAR TO 'a\\%c'") is True
    # the SQL '' escape inside the pattern is ONE literal quote —
    # the rewrite must collapse it before building the regex
    assert one("SELECT 'a''bX' SIMILAR TO 'a''b%'") is True
    assert one("SELECT 'ab' SIMILAR TO 'a''b%'") is False
    # 2020-03-07 is a Saturday: PG dow=6; 03-08 Sunday: dow=0,
    # isodow=7; 03-09 Monday: isodow=1
    assert one("SELECT date_part('dow', DATE '2020-03-07')") == 6
    assert one("SELECT extract(dow FROM DATE '2020-03-08')") == 0
    assert one("SELECT date_part('isodow', DATE '2020-03-08')") == 7
    assert one("SELECT extract(isodow FROM DATE '2020-03-09')") == 1
    assert one("SELECT date_part('year', DATE '2020-03-07')") == 2020
    assert one("SELECT quote_nullable(CAST(NULL AS STRING))") == "NULL"
    assert one("SELECT quote_nullable('x')") == "'x'"
    assert one("SELECT getdate()") is not None
    assert one("SELECT localtimestamp") is not None


def _mtp_rows(eng, q):
    return sorted(tuple(r) for r in eng.sql(q).collect())


def _mtp_update_literal_where(eng):
    eng.sql("CREATE TABLE mtp_a (k INT, s STRING)")
    eng.sql("INSERT INTO mtp_a VALUES (1, 'x'), (2, 'y')")
    r = eng.sql("UPDATE mtp_a SET s = 'a WHERE b' WHERE k = 1").collect()
    assert r[0].rows == 1
    assert _mtp_rows(eng, "SELECT k, s FROM mtp_a") \
        == [(1, "a WHERE b"), (2, "y")]


def _mtp_delete_literal_returning(eng):
    eng.sql("CREATE TABLE mtp_b AS SELECT 1 AS k, 'x RETURNING y' AS s"
            " UNION ALL SELECT 2, 'z'")
    r = eng.sql("DELETE FROM mtp_b WHERE s = 'x RETURNING y'").collect()
    assert r[0].rows == 1
    assert _mtp_rows(eng, "SELECT k, s FROM mtp_b") == [(2, "z")]


def _mtp_insert_literal_returning(eng):
    eng.sql("CREATE TABLE mtp_c (k INT, s STRING)")
    eng.sql("INSERT INTO mtp_c VALUES (3, 'p RETURNING q')")
    assert _mtp_rows(eng, "SELECT k, s FROM mtp_c") \
        == [(3, "p RETURNING q")]


def _mtp_delete_using_literal(eng):
    eng.sql("CREATE TABLE mtp_d AS SELECT 1 AS k UNION ALL SELECT 2")
    eng.sql("CREATE TABLE mtp_ds AS SELECT 2 AS k")
    r = eng.sql("DELETE FROM mtp_d USING mtp_ds s WHERE mtp_d.k = s.k"
                " AND 'x RETURNING y' <> ''").collect()
    assert r[0].rows == 1
    assert _mtp_rows(eng, "SELECT k FROM mtp_d") == [(1,)]


def _mtp_update_from_fires_trigger(eng):
    eng.sql("CREATE TABLE mtp_e (k INT, v INT, ts TIMESTAMP)")
    eng.sql("INSERT INTO mtp_e VALUES (1, 10, NULL), (2, 20, NULL)")
    eng.sql("CREATE TABLE mtp_es AS SELECT 2 AS k, 99 AS nv")
    eng.sql("CREATE TRIGGER mtp_stamp BEFORE UPDATE ON mtp_e"
            " FOR EACH ROW EXECUTE PROCEDURE moddatetime(ts)")
    eng.trigger_clock = "2024-01-15 10:30:00"
    eng.sql("UPDATE mtp_e SET v = s.nv FROM mtp_es s WHERE mtp_e.k = s.k")
    got = _mtp_rows(eng, "SELECT k, v, CAST(ts AS STRING) FROM mtp_e")
    assert got == [(1, 10, None), (2, 99, "2024-01-15 10:30:00")]


def _mtp_insert_column_list_ignore_error(eng):
    eng.sql("CREATE TYPE mtp_mood AS ENUM ('sad', 'ok')")
    eng.sql("CREATE TABLE mtp_f (k INT, m mtp_mood)")
    r = eng.sql("INSERT /*+ ignore_error */ INTO mtp_f (k, m)"
                " VALUES (3, 'ok'), (4, 'angry')").collect()[0]
    assert r.skipped == 1
    assert _mtp_rows(eng, "SELECT k, m FROM mtp_f") == [(3, "ok")]


def _mtp_update_from_ignore_error(eng):
    eng.sql("CREATE TYPE mtp_mood2 AS ENUM ('sad', 'ok')")
    eng.sql("CREATE TABLE mtp_g (k INT, m mtp_mood2)")
    eng.sql("INSERT INTO mtp_g VALUES (1, 'sad'), (2, 'sad')")
    eng.sql("CREATE TABLE mtp_gs AS SELECT 1 AS k, 'ok' AS nm"
            " UNION ALL SELECT 2, 'angry'")
    r = eng.sql("UPDATE /*+ ignore_error */ mtp_g SET m = s.nm"
                " FROM mtp_gs s WHERE mtp_g.k = s.k").collect()[0]
    assert (r.rows, r.skipped) == (1, 1)
    assert _mtp_rows(eng, "SELECT k, m FROM mtp_g") \
        == [(1, "ok"), (2, "sad")]


def _mtp_update_alias(eng):
    eng.sql("CREATE TABLE mtp_h AS SELECT 1 AS k, 0 AS v"
            " UNION ALL SELECT 2, 0")
    r = eng.sql("UPDATE mtp_h AS t SET v = 7 WHERE t.k = 1").collect()
    assert r[0].rows == 1
    assert _mtp_rows(eng, "SELECT k, v FROM mtp_h") == [(1, 7), (2, 0)]


def _mtp_default_values_fires_trigger(eng):
    eng.sql("CREATE TABLE mtp_i (k INT, ts TIMESTAMP)")
    eng.sql("CREATE TRIGGER mtp_istamp BEFORE INSERT ON mtp_i"
            " FOR EACH ROW EXECUTE PROCEDURE moddatetime(ts)")
    eng.trigger_clock = "2024-01-15 10:30:00"
    eng.sql("INSERT INTO mtp_i DEFAULT VALUES")
    assert _mtp_rows(eng, "SELECT k, CAST(ts AS STRING) FROM mtp_i") \
        == [(None, "2024-01-15 10:30:00")]


def _mtp_merge_case_when(eng):
    eng.sql("CREATE TABLE mtp_j (k INT, v INT)")
    eng.sql("INSERT INTO mtp_j VALUES (1, 1), (3, 3), (9, 9)")
    eng.sql(
        "MERGE INTO mtp_j t USING region s ON t.k = s.r_regionkey"
        " WHEN MATCHED THEN UPDATE SET v = CASE WHEN s.r_regionkey > 2"
        " THEN 100 ELSE 0 END"
        " WHEN NOT MATCHED THEN INSERT VALUES (s.r_regionkey, -1)"
    )
    assert _mtp_rows(eng, "SELECT k, v FROM mtp_j") == [
        (0, -1), (1, 0), (2, -1), (3, 100), (4, -1), (9, 9)]


def _mtp_merge_from_managed_table(eng):
    eng.sql("CREATE TABLE mtp_k (k INT, v INT)")
    eng.sql("INSERT INTO mtp_k VALUES (1, 1), (2, 2)")
    eng.sql("CREATE TABLE mtp_ks (k INT, v INT)")
    eng.sql("INSERT INTO mtp_ks VALUES (2, 20), (5, 50)")
    eng.sql(
        "MERGE INTO mtp_k t USING mtp_ks s ON t.k = s.k"
        " WHEN MATCHED THEN UPDATE SET v = s.v"
        " WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v)"
    )
    assert _mtp_rows(eng, "SELECT k, v FROM mtp_k") \
        == [(1, 1), (2, 20), (5, 50)]


def _mtp_upsert_literal(eng):
    eng.sql("CREATE TABLE mtp_l (k BIGINT PRIMARY KEY, note STRING)")
    eng.sql("INSERT INTO mtp_l VALUES (1, 'a')")
    eng.sql("INSERT INTO mtp_l VALUES (1, 'b'), (2, 'c')"
            " ON DUPLICATE KEY UPDATE note = 'keep k'")
    assert _mtp_rows(eng, "SELECT k, note FROM mtp_l") \
        == [(1, "keep k"), (2, "c")]


_MODIFY_TABLE_CASES = {
    f.__name__.removeprefix("_mtp_"): f for f in (
        _mtp_update_literal_where,
        _mtp_delete_literal_returning,
        _mtp_insert_literal_returning,
        _mtp_delete_using_literal,
        _mtp_update_from_fires_trigger,
        _mtp_insert_column_list_ignore_error,
        _mtp_update_from_ignore_error,
        _mtp_update_alias,
        _mtp_default_values_fires_trigger,
        _mtp_upsert_literal,
        _mtp_merge_case_when,
        _mtp_merge_from_managed_table,
    )
}


@pytest.mark.parametrize("case", list(_MODIFY_TABLE_CASES))
def test_modify_table_forms_agree(spark, tmp_path, case):
    """Every INSERT, UPDATE and DELETE spelling (plain, column list,
    DEFAULT VALUES, FROM, USING, an aliased target, the ignore_error
    hint) goes through one clause split and one handler per verb:
    keywords inside literals do not cut a clause, and triggers and
    the hint apply to every form.  MERGE splits its WHEN list only at
    WHEN [NOT] MATCHED and reads a managed source table."""
    eng = Engine(spark, SF_CORRECT)
    eng.managed_tables.root = str(tmp_path)
    _MODIFY_TABLE_CASES[case](eng)
