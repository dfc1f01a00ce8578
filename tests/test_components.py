"""Component tests beyond the oracle gate: ML warehouse, Structured
Streaming, sources, vector type round-trips, and the datavec edge cases
(`contrib/datavec/test/sql/hnsw_vector.sql:10-17`: NULL vectors excluded,
empty table → empty result, duplicates all returned; filtered ANN per
`test/t/009_ivfflat_filtering.pl`)."""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from .conftest import SF_CORRECT


# ------------------------------------------------------------------ ML

def test_model_warehouse_lifecycle(spark):
    from opengauss_vectordb_spark.ml import ModelWarehouse

    df = spark.createDataFrame(
        [(float(i), float(i) * 2.0 + 1.0 + (0.1 if i % 2 else -0.1), i % 2)
         for i in range(100)],
        "x DOUBLE, y DOUBLE, cls INT",
    )
    wh = ModelWarehouse()
    wh.create_model("lr", "linear_regression", df, features=["x"], label="y")
    pred = wh.predict_by("lr", df).select("prediction").collect()
    # y ≈ 2x+1: the fit must recover the slope closely
    assert abs(pred[10].prediction - (2 * 10 + 1)) < 1.0

    wh.create_model("clf", "logistic_regression", df, features=["x", "y"], label="cls")
    assert "prediction" in wh.predict_by("clf", df).columns
    assert wh.list_models() == ["clf", "lr"]
    wh.drop_model("lr")
    assert wh.list_models() == ["clf"]
    with pytest.raises(KeyError):
        wh.predict_by("lr", df)
    # xgboost objectives map onto MLlib gradient boosting (db4ai.h:66-83)
    wh.create_model(
        "xg_clf", "xgboost", df, features=["x", "y"], label="cls",
        objective="binary:logistic", maxDepth=3, maxIter=5,
    )
    clf_pred = wh.predict_by("xg_clf", df)
    assert {r.prediction for r in clf_pred.collect()} <= {0.0, 1.0}
    wh.create_model(
        "xg_reg", "xgboost", df, features=["x"], label="y",
        # default objective reg:squarederror; eta/step 0.5 so 20 rounds
        # close the (1-step)^rounds residual on the wide y range
        maxDepth=5, maxIter=20, stepSize=0.5,
    )
    reg_pred = wh.predict_by("xg_reg", df).select("x", "prediction").collect()
    # y ≈ 2x+1 piecewise-fit: mid-range predictions must track the trend
    mid = [r for r in reg_pred if 20 <= r.x <= 80]
    assert all(abs(r.prediction - (2 * r.x + 1)) < 10.0 for r in mid)
    # an objective with no GBT loss must refuse, not train the wrong model
    with pytest.raises(NotImplementedError):
        wh.create_model(
            "xg_bad", "xgboost", df, features=["x"], label="y",
            objective="reg:gamma",
        )


def test_linreg_ols_matches_mllib(spark):
    """db4ai_linreg_ols's closed-form normal equations must agree with
    MLlib LinearRegression(solver="normal") — ties the oracle-checked
    training math to the ModelWarehouse path."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.operators.db4ai import db4ai_linreg_ols

    ols = {r.flag: r for r in db4ai_linreg_ols(spark, SF_CORRECT).collect()}

    li = table(spark, SF_CORRECT, "lineitem").filter(F.col("l_returnflag") == "A")
    fitted = LinearRegression(
        featuresCol="features", labelCol="l_extendedprice",
        solver="normal", regParam=0.0,
    ).fit(
        VectorAssembler(inputCols=["l_quantity"], outputCol="features")
        .transform(li)
    )
    assert abs(fitted.coefficients[0] - ols["A"].slope) < 1e-3
    assert abs(fitted.intercept - ols["A"].intercept) < 1e-2


def test_kmeans_embeddings(spark):
    from opengauss_vectordb_spark.ml import kmeans_embeddings

    out = kmeans_embeddings(spark, SF_CORRECT, k=10)
    rows = out.collect()
    assert sum(r.n for r in rows) == 500
    assert len({r.cluster for r in rows}) > 1


# ------------------------------------------------------------ streaming

def test_streaming_tumbling_matches_batch(spark):
    import shutil

    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
        tumbling_counts,
    )

    tmp = tempfile.mkdtemp(prefix="stream_in_")
    try:
        ev = table(spark, SF_CORRECT, "events")
        # split input into 3 json drop files → 3 micro-batch sources
        ev.withColumn("_b", F.col("event_id") % 3).repartition("_b").drop(
            "_b"
        ).write.mode("overwrite").json(tmp)
        stream = read_event_stream(spark, tmp, fmt="json")
        # complete mode: append would hold back windows newer than the
        # watermark at end-of-input (correct streaming semantics, but here
        # we want to compare the full aggregation against batch)
        q = run_to_memory(tumbling_counts(stream), "t_tumbling", mode="complete")
        got = {
            (r.window_start, r.event_type): (r.n, r.total_value)
            for r in spark.sql("SELECT * FROM t_tumbling").collect()
        }
        expect = {
            (r.w.start, r.event_type): (r.n, r.total_value)
            for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double")
                .alias("total_value"),
            )
            .collect()
        }
        assert got == expect
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_interval_join_matches_batch(spark):
    """Stream-stream time-bounded join (watermarked state) must produce
    the identical pair set as the batch events_interval_join predicate —
    the guarantee that lets the batch DuckDB oracle certify the
    streaming runtime."""
    import shutil

    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.streaming.events import (
        interval_join_stream,
        read_event_stream,
        run_to_memory,
    )

    tmp = tempfile.mkdtemp(prefix="stream_ij_")
    try:
        ev = table(spark, SF_CORRECT, "events")
        ev.write.mode("overwrite").json(tmp)
        stream = read_event_stream(spark, tmp, fmt="json")
        left = stream.filter(F.col("event_type") == "click")
        right = stream.filter(F.col("event_type") == "error")
        q = run_to_memory(
            interval_join_stream(left, right, window="1 hour"), "t_ij"
        )
        got = {
            (r.left_id, r.right_id)
            for r in spark.sql("SELECT * FROM t_ij").collect()
        }
        a = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("lid"), F.col("user_id").alias("lu"),
            F.col("ts").alias("lts"),
        )
        b = ev.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("rid"), F.col("user_id").alias("ru"),
            F.col("ts").alias("rts"),
        )
        expect = {
            (r.lid, r.rid)
            for r in a.join(
                b,
                (F.col("lu") == F.col("ru"))
                & (F.col("rts") >= F.col("lts"))
                & (F.col("rts") < F.col("lts") + F.expr("INTERVAL 1 HOUR")),
            ).collect()
        }
        assert got == expect and expect
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_session_windows(spark):
    import shutil

    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
        session_counts,
    )

    tmp = tempfile.mkdtemp(prefix="stream_sess_")
    try:
        table(spark, SF_CORRECT, "events").filter(F.col("user_id") < 10).write.mode(
            "overwrite"
        ).json(tmp)
        stream = read_event_stream(spark, tmp, fmt="json")
        q = run_to_memory(session_counts(stream, gap="30 minutes"), "t_sessions")
        rows = spark.sql("SELECT * FROM t_sessions").collect()
        assert rows, "expected at least one session"
        assert all(r.n_events >= 1 for r in rows)
        q.stop()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -------------------------------------------------------------- sources

def test_csv_roundtrip_and_fixed_width(spark, tmp_path):
    from opengauss_vectordb_spark.sources.readers import (
        read_csv,
        read_fixed_width,
        write_csv,
    )

    df = spark.createDataFrame(
        [(1, "aa", 1.5), (2, "bb", -2.0), (3, None, 0.25)],
        "id INT, s STRING, v DOUBLE",
    )
    out = str(tmp_path / "csv_out")
    write_csv(df, out)
    back = read_csv(spark, out, "id INT, s STRING, v DOUBLE", header=True)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    fixed = tmp_path / "fixed.txt"
    fixed.write_text("001alpha  12.5\n002beta    3.0\n")
    fw = read_fixed_width(
        spark,
        str(fixed),
        [("id", 1, 3, "int"), ("name", 4, 7, "string"), ("val", 11, 4, "double")],
    )
    rows = sorted(map(tuple, fw.collect()))
    assert rows == [(1, "alpha", 12.5), (2, "beta", 3.0)]


# ----------------------------------------------------- vector type layer

def test_halfvec_roundtrip_matches_numpy(spark):
    from opengauss_vectordb_spark.vector.types import halfvec_quantize

    vals = [[0.1, -0.2, 1.00048828125, 65504.0, 1e-8]]
    df = spark.createDataFrame([(vals[0],)], "v ARRAY<FLOAT>")
    got = df.select(halfvec_quantize("v").alias("h")).collect()[0].h
    expect = (
        np.asarray(vals[0], dtype=np.float32).astype(np.float16).astype(np.float32)
    )
    assert got == pytest.approx(expect.tolist())


def test_sparsevec_roundtrip_and_dot(spark):
    from opengauss_vectordb_spark.vector.types import (
        sparse_dot,
        sparsevec_to_dense,
        to_sparsevec,
    )

    df = spark.createDataFrame(
        [([0.0, 2.0, 0.0, -3.0],), ([1.0, 0.0, 0.0, 4.0],)], "v ARRAY<DOUBLE>"
    )
    sv = df.select(
        to_sparsevec(F.col("v"), value_type="double").alias("s"), F.col("v")
    )
    rows = sv.select(
        F.col("s.dim"), F.col("s.indices"), sparsevec_to_dense(F.col("s")).alias("back")
    ).collect()
    assert rows[0].dim == 4
    assert [float(x) for x in rows[0].back] == [0.0, 2.0, 0.0, -3.0]
    # dot of the two rows: 0*1 + 2*0 + 0*0 + (-3)*4 = -12
    pair = spark.createDataFrame(
        [([0.0, 2.0, 0.0, -3.0], [1.0, 0.0, 0.0, 4.0])],
        "va ARRAY<DOUBLE>, vb ARRAY<DOUBLE>",
    ).select(
        to_sparsevec(F.col("va"), value_type="double").alias("a"),
        to_sparsevec(F.col("vb"), value_type="double").alias("b"),
    )
    dot = pair.select(sparse_dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    assert dot == -12.0


def test_binary_quantize_words(spark):
    from opengauss_vectordb_spark.vector.types import binary_quantize_words

    df = spark.createDataFrame([([1.0, -1.0, 0.5, 0.0] * 16,)], "v ARRAY<DOUBLE>")
    words = df.select(binary_quantize_words("v").alias("w")).collect()[0].w
    # pattern 1,0,1,0 per 4 elements → bits 0,2 of each nibble → 0x5 nibbles
    assert len(words) == 2
    assert words[0] == 0x55555555 and words[1] == 0x55555555


# --------------------------------------- datavec edge cases + filtered ANN

def test_knn_edge_cases(spark):
    from opengauss_vectordb_spark.vector.exact import knn

    # NULL vectors never surface; duplicates all returned; empty → empty
    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 1.0, 1.0]), (3, None),
         (4, [1.0, 1.0, 1.0])],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    got = knn(df, "v", [1.0, 1.0, 1.0], k=3, metric="l2", id_col="id").collect()
    assert [r.id for r in got] == [2, 4, 1]

    empty = spark.createDataFrame([], "id BIGINT, v ARRAY<FLOAT>")
    assert knn(empty, "v", [0.0, 0.0, 0.0], k=5, id_col="id").count() == 0


def test_ivf_filtered_ann(spark):
    """Filtered ANN (009_ivfflat_filtering.pl): predicate + knn compose —
    filter the pruned scan before ranking."""
    from opengauss_vectordb_spark.vector.exact import knn
    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    rng = np.random.default_rng(7)
    vecs = rng.random((2000, 3)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], i % 5) for i, v in enumerate(vecs)],
        "id BIGINT, v ARRAY<FLOAT>, category INT",
    )
    tmp = tempfile.mkdtemp(prefix="ivf_filter_")
    idx = IvfIndex.build(df, "v", os.path.join(tmp, "idx"), lists=20, max_iter=15)
    q = [0.5, 0.5, 0.5]
    pruned = idx.data(spark).filter(F.col("category") == 2)
    got = knn(pruned, "v", q, k=10, metric="l2", id_col="id").collect()
    assert len(got) == 10
    assert all(r.category == 2 for r in got)
    # every result id ≡ 2 mod 5 by construction
    assert all(r.id % 5 == 2 for r in got)


# ----------------------------------------------------------- multimodal

def test_multimodal_feature_pipeline(spark):
    from opengauss_vectordb_spark.operators.multimodal import (
        extract_features,
        media_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, n=60)
    stats = {r.modality: (r.n, r.total_bytes) for r in media_stats(media).collect()}
    assert set(stats) == {"image", "audio", "video"}
    assert sum(n for n, _ in stats.values()) == 60

    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 60
    assert all(len(r.feature) == 16 for r in rows)
    assert all(0.0 <= x <= 1.0 for r in rows for x in r.feature)
    # deterministic: same payload → same feature
    again = {r.media_id: r.feature for r in extract_features(media).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_compact_recovers_from_crash_between_renames(spark, tmp_path):
    """A crash between compact()'s two renames leaves no data/ but two
    complete copies (old + staged); the next compact must RESTORE one,
    never delete both."""
    import os
    import shutil

    import numpy as np

    from opengauss_vectordb_spark.vector.ivf import IvfIndex
    from opengauss_vectordb_spark.vector.maintenance import compact

    rng = np.random.default_rng(2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rng.random((200, 3)))],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    path = str(tmp_path / "idx")
    idx = IvfIndex.build(df, "v", path, lists=4, max_iter=5)
    n = idx.data(spark).count()
    data = os.path.join(path, "data")
    # simulate the crash window: staged written, data renamed aside,
    # second rename never happened
    shutil.copytree(data, data + ".compacting")
    os.rename(data, data + ".old")
    compact(spark, idx)
    assert os.path.exists(data)
    assert not os.path.exists(data + ".old")
    assert not os.path.exists(data + ".compacting")
    assert idx.data(spark).count() == n


def test_to_tsquery_compiler(spark):
    """tsquery string grammar → Column predicate: &, |, !, parens, <->
    with PG precedence, checked against hand-built row expectations."""
    import pytest as _pytest

    from opengauss_vectordb_spark.operators.text import to_tsquery, ts_lexemes

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "quick fox jumps"),
            (3, "lazy dog sleeps"),
            (4, "brown dog barks"),
            (5, "fox quick reorder"),
        ],
        "id INT, text STRING",
    ).select("id", ts_lexemes(F.col("text")).alias("ts"))

    def ids(q):
        return sorted(r.id for r in df.filter(to_tsquery(F.col("ts"), q)).collect())

    assert ids("quick & fox") == [1, 2, 5]
    assert ids("dog | fox") == [1, 2, 3, 4, 5]
    assert ids("dog & !lazy") == [4]
    assert ids("(quick | lazy) & !jumps") == [1, 3, 5]
    assert ids("quick <-> fox") == [2]          # adjacency, not just AND
    assert ids("quick <-> fox | lazy <-> dog") == [2, 3]
    with _pytest.raises(ValueError):
        to_tsquery(F.col("ts"), "quick &")
    with _pytest.raises(ValueError):
        to_tsquery(F.col("ts"), "a <-> (b & c)")

    # ts_rewrite (tsquery_rewrite.cpp): subtree substitution, then the
    # rewritten text compiles through the same grammar
    from opengauss_vectordb_spark.operators.text import (
        _tsquery_ast,
        _tsquery_text,
        ts_rewrite,
    )

    rw = ts_rewrite("dog & !lazy", "dog", "dog | fox")
    assert _tsquery_ast(rw) == (
        "and", ("or", ("term", "dog"), ("term", "fox")),
        ("not", ("term", "lazy")),
    )
    assert ids(rw) == [1, 2, 4, 5]  # expansion gains the fox docs
    # compound target replaces as a whole subtree
    assert _tsquery_ast(ts_rewrite("a & (b | c)", "b | c", "d")) == (
        "and", ("term", "a"), ("term", "d")
    )
    # serialize → parse round-trips for every operator shape
    for q in ("a & !b | c <-> d", "!(a | b) & c", "x <-> y"):
        assert _tsquery_ast(_tsquery_text(_tsquery_ast(q))) == _tsquery_ast(q)


def test_copy_binary_file_roundtrip(spark, tmp_path):
    """COPY TO/FROM (FORMAT binary): the PGCOPY streams written per
    partition must parse back to the exact input rows, NULLs included."""
    import datetime

    from opengauss_vectordb_spark.sources.readers import (
        read_pg_binary,
        write_pg_binary,
    )

    rows = [
        (1, "alpha", 1.5, datetime.date(2024, 1, 2)),
        (2, None, float("inf"), datetime.date(1999, 12, 31)),
        (3, "gamma", None, None),
        (4, "delta", float("nan"), datetime.date(2024, 6, 1)),
    ]
    df = spark.createDataFrame(
        rows, "k BIGINT, s STRING, x DOUBLE, d DATE"
    ).coalesce(2)
    out = str(tmp_path / "pgbin")
    write_pg_binary(df, out)
    back = read_pg_binary(spark, out, "k BIGINT, s STRING, x DOUBLE, d DATE")
    got = sorted(map(tuple, back.collect()))
    # NaN is a VALUE on the wire (8-byte float8 payload), never NULL —
    # compare it by isnan since NaN != NaN
    import math

    assert [r[0] for r in got] == [1, 2, 3, 4]
    assert got[0] == rows[0] and got[1] == rows[1] and got[2] == rows[2]
    assert got[3][:2] == (4, "delta") and math.isnan(got[3][2])
    assert got[3][3] == datetime.date(2024, 6, 1)


def test_multimodal_unknown_modality_errors(spark):
    import pytest as _pytest

    from opengauss_vectordb_spark.operators.multimodal import _decode_stub

    with _pytest.raises(NotImplementedError):
        _decode_stub(b"xx", "hologram")


# ------------------------------------------------- dedup cluster resolution

def test_connected_components_dedup(spark):
    from opengauss_vectordb_spark.operators.dedup import connected_components_dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a BIGINT, id_b BIGINT"
    )
    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id BIGINT")
    labels = {
        r.doc_id: r.cluster_id
        for r in connected_components_dedup(pairs, ids).collect()
    }
    # {1,2,3} → 1; {5,6} → 5; singletons keep themselves
    assert labels == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_streaming_dedup_within_watermark(spark):
    import shutil

    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.streaming.events import (
        dedup_stream,
        read_event_stream,
        run_to_memory,
    )

    tmp = tempfile.mkdtemp(prefix="stream_dup_")
    try:
        ev = table(spark, SF_CORRECT, "events").limit(200)
        # write the same events TWICE (two drop files) → pure duplicates
        ev.coalesce(1).write.mode("overwrite").json(tmp)
        ev.coalesce(1).write.mode("append").json(tmp)
        stream = read_event_stream(spark, tmp, fmt="json")
        deduped = dedup_stream(stream, ["event_id"], delay="2 hours")
        run_to_memory(deduped.select("event_id"), "t_dedup", mode="append")
        got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d "
                        "FROM t_dedup").collect()[0]
        assert got.n == got.d == 200
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------ SQL compat layer

def test_sql_compat_translate():
    from opengauss_vectordb_spark.functions.sql_compat import translate

    assert translate("SELECT 1 FROM dual").strip() == "SELECT 1"
    assert translate("SELECT * FROM t WHERE ROWNUM <= 5").endswith("LIMIT 5")
    # strict < becomes n-1; with ORDER BY in the block, Oracle assigns
    # ROWNUM first, so the rewrite limits in a derived table THEN sorts
    out = translate("SELECT * FROM t WHERE x = 1 AND ROWNUM < 10 ORDER BY x")
    assert out == "SELECT * FROM (SELECT * FROM t WHERE x = 1 LIMIT 9) ORDER BY x"
    assert "current_timestamp()" in translate("SELECT sysdate")
    # untouched passthrough: mid-query rownum-free SQL
    q = "SELECT a FROM t WHERE b > 2 ORDER BY a"
    assert translate(q) == q


def test_sql_compat_string_literals_and_nullsafe_eq():
    """String literals are opaque to every rewrite, and `<=>` keeps
    Spark's null-safe-equality meaning unless a pgvector literal makes
    the vector reading unambiguous (ADVICE r3)."""
    from opengauss_vectordb_spark.functions.sql_compat import translate

    # operators/keywords inside quoted text never rewrite
    for q in (
        "SELECT 'a <-> b' AS s",
        "SELECT 'x <=> y' AS s",
        "SELECT 'it''s sysdate from dual' AS s",
        "SELECT 'rownum <= 5' AS s",
    ):
        assert translate(q) == q
    # plain identifier <=> identifier: Spark null-safe equality, untouched
    q = "SELECT * FROM a JOIN b ON a.k <=> b.k"
    assert translate(q) == q
    # a pgvector literal disambiguates: cosine rewrite fires
    out = translate("SELECT emb <=> '[1,2]' FROM t")
    assert "cosine_distance" in out and "array(1,2)" in out
    # non-vector string next to a distance op is not an operand
    q = "SELECT name FROM t WHERE name = 'x' AND a <-> b < 2"
    assert "l2_distance" in translate(q)
    assert translate("SELECT 'abc' <-> x FROM t") == "SELECT 'abc' <-> x FROM t"
    # ident <-> ident still rewrites (no Spark meaning for <->)
    assert "l2_distance" in translate("SELECT a <-> b FROM t")


def test_engine_sql_compat(spark):
    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, SF_CORRECT)
    rows = eng.sql(
        "SELECT o_orderkey FROM orders ORDER BY o_orderkey"
    ).limit(1).collect()
    assert rows[0][0] is not None
    top = eng.sql(
        "SELECT o_orderkey AS k FROM orders WHERE ROWNUM <= 3 ORDER BY k"
    ).collect()
    assert len(top) == 3


# ------------------------------------------------ approx sketches envelope

def test_hll_union_matches_direct_sketch(spark):
    """hll_union_agg (hll_function.cpp:560): unioning per-status sketches
    must estimate within 5% of the exact per-flag distinct count."""
    from opengauss_vectordb_spark.catalog import table
    from opengauss_vectordb_spark.operators.setops_windows import (
        hll_union_reaggregate,
    )

    rows = hll_union_reaggregate(spark, SF_CORRECT).collect()
    li = table(spark, SF_CORRECT, "lineitem")
    exact = {r.l_returnflag: r.p
             for r in li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("p")).collect()}
    assert len(rows) == len(exact)
    for r in rows:
        assert r.exact_parts == exact[r.l_returnflag]
        assert r.union_in_envelope is True


def test_hll_error_envelope(spark):
    """hll_* parity (hll_function.cpp): approx_count_distinct at rsd=0.02
    must land within a 5% envelope of the exact counts."""
    from opengauss_vectordb_spark.catalog import table

    li = table(spark, SF_CORRECT, "lineitem")
    approx = {
        r.l_returnflag: (r.approx_parts, r.approx_suppliers)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.approx_count_distinct("l_suppkey", rsd=0.02).alias(
                "approx_suppliers"
            ),
        )
        .collect()
    }
    exact = {
        r.l_returnflag: (r.p, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("p"),
            F.countDistinct("l_suppkey").alias("s"),
        )
        .collect()
    }
    for k in exact:
        for a, e in zip(approx[k], exact[k]):
            assert abs(a - e) / e < 0.05, f"{k}: approx {a} vs exact {e}"


# ---------------------------------------------------- PG semantics deltas

def test_pg_semantics_deltas(spark):
    """SURVEY §7 guards: integer division truncation, empty-result SUM
    (NULL not 0), division by zero (documented NULL), PG-name functions."""
    from opengauss_vectordb_spark.functions import register_pg_functions

    register_pg_functions(spark)
    row = spark.sql(
        """SELECT pg_div(7, 2) AS a, pg_div(-7, 2) AS b,
                  strpos('hello', 'll') AS c"""
    ).collect()[0]
    assert (row.a, row.b) == (3, -3)  # truncation toward zero, PG int4div
    assert row.c == 3

    tn = spark.sql(
        """SELECT pg_to_number('$1,234.56') AS a, pg_to_number(' -42 ') AS b"""
    ).collect()[0]
    assert float(tn.a) == 1234.56 and float(tn.b) == -42.0

    empty_sum = spark.sql(
        "SELECT SUM(x) AS s FROM (SELECT 1 AS x WHERE false)"
    ).collect()[0]
    assert empty_sum.s is None  # PG: SUM over empty → NULL (not 0)

    div0 = spark.sql("SELECT 1.0 / 0.0 AS d").collect()[0]
    # documented delta: PG errors, this engine (ANSI off) yields NULL
    assert div0.d is None


# ----------------------------------------------------- index maintenance

def test_ivf_append_and_rebuild(spark):
    import shutil

    from opengauss_vectordb_spark.vector.exact import knn as exact_knn
    from opengauss_vectordb_spark.vector.ivf import IvfIndex
    from opengauss_vectordb_spark.vector.maintenance import (
        append_to_index,
        compact,
        rebuild,
    )

    rng = np.random.default_rng(11)
    base = rng.random((1500, 3)).astype("float32")
    extra = rng.random((500, 3)).astype("float32")
    mk = lambda arr, off: spark.createDataFrame(  # noqa: E731
        [(off + i, [float(x) for x in v]) for i, v in enumerate(arr)],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    tmp = tempfile.mkdtemp(prefix="ivf_maint_")
    try:
        idx = IvfIndex.build(mk(base, 0), "v", os.path.join(tmp, "i"), lists=16,
                             max_iter=15)
        n0 = idx.data(spark).dropDuplicates(["id"]).count()
        assert n0 == 1500
        append_to_index(spark, idx, mk(extra, 1500), "v")
        assert idx.data(spark).dropDuplicates(["id"]).count() == 2000
        # appended rows are findable: exhaustive probe == exact over all 2000
        q = [0.5, 0.5, 0.5]
        all_rows = mk(np.vstack([base, extra]), 0)
        truth = [r.id for r in exact_knn(all_rows, "v", q, k=10, id_col="id").collect()]
        got = [r.id for r in idx.search(spark, q, "v", k=10, probes=16,
                                        id_col="id").collect()]
        assert got == truth
        compact(spark, idx)
        assert idx.data(spark).dropDuplicates(["id"]).count() == 2000
        idx2 = rebuild(spark, idx, "v", max_iter=15)
        got2 = [r.id for r in idx2.search(spark, q, "v", k=10, probes=16,
                                          id_col="id").collect()]
        assert got2 == truth
        # each row is refit once, not once per list it spilled into
        fresh = IvfIndex.build(all_rows, "v", os.path.join(tmp, "f"),
                               lists=16, max_iter=15)
        assert idx2.data(spark).count() == fresh.data(spark).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -------------------------------------- custom stateful streaming operator

def test_stateful_anomaly_stream(spark):
    import shutil

    from opengauss_vectordb_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
    )
    from opengauss_vectordb_spark.streaming.stateful import anomaly_stream

    # synthetic: user 1 steady values with one spike; user 2 all steady
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(40):
        rows.append((eid, (base + dt.timedelta(minutes=i)).isoformat(), 1,
                     "view", 10.0 + (i % 3) * 0.1, "{}"))
        eid += 1
    rows.append((eid, (base + dt.timedelta(minutes=50)).isoformat(), 1,
                 "view", 500.0, "{}"))  # spike
    eid += 1
    for i in range(20):
        rows.append((eid, (base + dt.timedelta(minutes=i)).isoformat(), 2,
                     "view", 5.0, "{}"))
        eid += 1

    tmp = tempfile.mkdtemp(prefix="stateful_")
    try:
        import json as _json

        with open(os.path.join(tmp, "batch.json"), "w") as f:
            for r in rows:
                f.write(_json.dumps({
                    "event_id": r[0], "ts": r[1], "user_id": r[2],
                    "event_type": r[3], "value": r[4], "props": r[5],
                }) + "\n")
        stream = read_event_stream(spark, tmp, fmt="json")
        q = run_to_memory(anomaly_stream(stream, threshold=3.0), "t_anomaly")
        got = spark.sql("SELECT * FROM t_anomaly").collect()
        q.stop()
        assert len(got) == 1
        assert got[0].user_id == 1 and got[0].value == 500.0
        assert abs(got[0].zscore) > 3.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------------------------ UDAF

def test_udaf_geometric_mean_and_vector_aggs(spark):
    from opengauss_vectordb_spark.functions.udaf import (
        geometric_mean,
        vector_avg_agg,
        vector_sum_agg,
    )

    df = spark.createDataFrame(
        [("a", 2.0), ("a", 8.0), ("b", 3.0), ("b", 27.0), ("b", None)],
        "k STRING, v DOUBLE",
    )
    got = {
        r.k: r.gm
        for r in df.groupBy("k").agg(geometric_mean("v").alias("gm")).collect()
    }
    assert got["a"] == pytest.approx(4.0)
    assert got["b"] == pytest.approx(9.0)

    vdf = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 0.0])],
        "k STRING, v ARRAY<DOUBLE>",
    )
    sums = {r.k: r.sum_v for r in vector_sum_agg(vdf, ["k"], "v").collect()}
    assert sums["a"] == [4.0, 6.0] and sums["b"] == [10.0, 0.0]
    avgs = {r.k: r.avg_v for r in vector_avg_agg(vdf, ["k"], "v").collect()}
    assert avgs["a"] == [2.0, 3.0]


# ------------------------------------------------- cosine LSH near-dup

def test_cosine_lsh_finds_planted_dups(spark):
    """Random-hyperplane LSH recall: planted near-duplicates (small
    perturbations) must surface as candidates and survive verification;
    candidate count must stay far below the O(n²) pair space."""
    from opengauss_vectordb_spark.vector.cosine_lsh import (
        cosine_lsh_candidates,
        cosine_near_dup_pairs,
    )

    rng = np.random.default_rng(5)
    n, dim = 500, 32
    base = rng.normal(size=(n, dim)).astype("float32")
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant 20 near-duplicates of rows 0..19 (ids 1000+)
    planted = set()
    for i in range(20):
        noisy = base[i] + 0.05 * rng.normal(size=dim).astype("float32")
        rows.append((1000 + i, [float(x) for x in noisy]))
        planted.add((i, 1000 + i))
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<FLOAT>")

    cands = cosine_lsh_candidates(df, "v", "id", dim)
    cand_pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    found = planted & cand_pairs
    assert len(found) >= 18, f"LSH missed {planted - cand_pairs}"
    # pair space is 520*519/2 ≈ 135k; expected false-candidate mass is
    # ~8 bands × (1/2)^8 ≈ 3% of pairs (θ≈90° for random gaussians) →
    # candidates must stay well under 10%
    assert len(cand_pairs) < 13_000

    verified = cosine_near_dup_pairs(df, "v", "id", dim, max_cos_dist=0.2)
    vpairs = {(r.id_a, r.id_b) for r in verified.collect()}
    assert planted & vpairs == found & vpairs
    assert len(vpairs & planted) >= 18


def test_ivf_centers_edge_cases(spark):
    """kmeans centers edge cases (008_ivfflat_centers.pl): more lists
    than rows, and all-duplicate vectors — build must not fail and
    exhaustive search must still return exact results."""
    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    # 5 rows, 8 requested lists
    few = spark.createDataFrame(
        [(i, [float(i), 0.0, 1.0]) for i in range(5)],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    tmp = tempfile.mkdtemp(prefix="ivf_centers_")
    idx = IvfIndex.build(few, "v", os.path.join(tmp, "few"), lists=8, max_iter=5)
    got = idx.search(spark, [2.1, 0.0, 1.0], "v", k=3, probes=8, id_col="id")
    assert [r.id for r in got.collect()] == [2, 3, 1]

    # all-identical vectors (zero spread: kmeans++ d2 total == 0 path)
    dup = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(50)],
        "id BIGINT, v ARRAY<FLOAT>",
    )
    idx2 = IvfIndex.build(dup, "v", os.path.join(tmp, "dup"), lists=4, max_iter=5)
    got2 = idx2.search(spark, [1.0, 2.0, 3.0], "v", k=5, probes=4, id_col="id")
    rows = got2.collect()
    assert len(rows) == 5 and all(abs(r.distance) < 1e-6 for r in rows)


def test_vector_text_copy_roundtrip(spark, tmp_path):
    """COPY of vector columns as text literals (datavec test/sql/copy.sql,
    vector_type.sql): vector_out → csv → vector_in is lossless fp32."""
    from opengauss_vectordb_spark.sources.readers import read_csv
    from opengauss_vectordb_spark.vector.types import (
        vector_from_text,
        vector_to_text,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.random(4).astype("float32")])
            for i in range(100)]
    df = spark.createDataFrame(rows, "id BIGINT, v ARRAY<FLOAT>")
    out = str(tmp_path / "veccsv")
    df.select("id", vector_to_text(F.col("v")).alias("v")).coalesce(
        1
    ).write.option("quote", '"').csv(out)
    back = read_csv(spark, out, "id BIGINT, v STRING").select(
        "id", vector_from_text(F.col("v"), dim=4).alias("v")
    )
    orig = {r.id: r.v for r in df.collect()}
    got = {r.id: r.v for r in back.collect()}
    assert len(got) == 100
    assert all(got[i] == orig[i] for i in orig)
    # typmod enforcement: wrong-dim literal → NULL
    bad = spark.createDataFrame([("[1,2,3]",)], "s STRING").select(
        vector_from_text(F.col("s"), dim=4).alias("v")
    )
    assert bad.first().v is None


def test_salted_join_matches_plain_join(spark):
    """Skew salting (SCALE.md joins section): a 90%-hot-key fact table
    joined to a dimension through salted_equi_join must equal the plain
    join, while the physical join key carries the salt column."""
    from opengauss_vectordb_spark.operators.skew import salted_equi_join

    big = spark.createDataFrame(
        [(i, 1 if i % 10 else i % 7, float(i)) for i in range(5000)],
        "row_id BIGINT, k INT, v DOUBLE",
    )
    small = spark.createDataFrame(
        [(k, f"dim_{k}") for k in range(7)], "k INT, name STRING"
    )
    got = salted_equi_join(big, small, ["k"], n_salts=8)
    plain = big.join(small, ["k"])
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, plain.collect())
    )
    # left join keeps unmatched big rows
    small_partial = small.filter(F.col("k") <= 3)
    got_l = salted_equi_join(big, small_partial, ["k"], n_salts=8, how="left")
    plain_l = big.join(small_partial, ["k"], "left")
    assert sorted(map(tuple, got_l.collect())) == sorted(
        map(tuple, plain_l.collect())
    )


def test_to_char_format_models(spark):
    """to_char/to_date format-model translation (adt/formatting.cpp):
    PG models render through Spark datetime patterns."""
    from opengauss_vectordb_spark.functions.pg_compat import (
        pg_to_date,
        pg_to_timestamp,
        to_char,
    )

    df = spark.range(1).select(
        F.lit("2020-01-05 13:07:09").cast("timestamp").alias("t"),
        F.lit(1234567.891).alias("x"),
    )
    row = df.select(
        to_char(F.col("t"), "YYYY-MM-DD").alias("a"),
        to_char(F.col("t"), "DD/MM/YYYY HH24:MI:SS").alias("b"),
        to_char(F.col("t"), "Day, DD Mon YYYY").alias("c"),
        to_char(F.col("t"), "HH12:MI AM").alias("d"),
        to_char(F.col("t"), 'YYYY"Q"Q').alias("e"),
        to_char(F.col("x"), "999,999,999.99").alias("f"),
        to_char(F.col("x"), "FM99999999").alias("g"),
    ).first()
    assert row.a == "2020-01-05"
    assert row.b == "05/01/2020 13:07:09"
    assert row.c == "Sunday, 05 Jan 2020"
    assert row.d == "01:07 PM"
    assert row.e == "2020Q1"
    assert row.f == "1,234,567.89"
    assert row.g == "1234568"

    parsed = spark.range(1).select(
        pg_to_date(F.lit("05/01/2020"), "DD/MM/YYYY").alias("d"),
        pg_to_timestamp(F.lit("2020-01-05 13:07"), "YYYY-MM-DD HH24:MI").alias("ts"),
    ).first()
    assert str(parsed.d) == "2020-01-05"
    assert str(parsed.ts) == "2020-01-05 13:07:00"


def test_anomaly_stream_matches_batch_zscore(spark):
    """The stateful streaming detector and its batch window-function
    statement (events_anomaly_zscore) must flag the same events with the
    same scores — the batch query IS the oracle-checkable semantics of
    the state-store operator."""
    import json as _json
    import shutil

    from opengauss_vectordb_spark import registry
    from opengauss_vectordb_spark.catalog import table as _table
    from opengauss_vectordb_spark.streaming.events import (
        read_event_stream,
        run_to_memory,
    )
    from opengauss_vectordb_spark.streaming.stateful import anomaly_stream

    registry.load_all_queries()
    from opengauss_vectordb_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = {
        (r.user_id, r.event_id): (round(r.zscore, 4), r.n_seen)
        for r in QUERIES["events_anomaly_zscore"](spark, sf).collect()
    }
    tmp = tempfile.mkdtemp(prefix="anomaly_eq_")
    try:
        rows = _table(spark, sf, "events").collect()
        with open(os.path.join(tmp, "batch.json"), "w") as f:
            for r in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                            "props": r.props,
                        }
                    )
                    + "\n"
                )
        stream_df = anomaly_stream(read_event_stream(spark, tmp))
        run_to_memory(stream_df, "anomaly_eq_out")
        stream = {
            (r.user_id, r.event_id): (round(r.zscore, 4), r.n_seen)
            for r in spark.table("anomaly_eq_out").collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert batch.keys() == stream.keys()
    for k, (z_b, n_b) in batch.items():
        z_s, n_s = stream[k]
        assert n_b == n_s, k
        assert abs(z_b - z_s) < 1e-3, (k, z_b, z_s)


def test_engine_pipeline_verbs(spark):
    import tempfile as _tf

    from opengauss_vectordb_spark.engine import Engine

    eng = Engine(spark, sf_dir="/root/testdata/sf0.001")
    pairs = eng.dedup_pairs()
    assert set(pairs.columns) == {"id_a", "id_b"}
    docs = eng.table("documents")
    sample = eng.weighted_sample(docs, "n_chars", 10, "doc_id")
    assert sample.count() == 10
    # determinism: same draw twice
    a = sorted(r.doc_id for r in sample.collect())
    b = sorted(
        r.doc_id
        for r in eng.weighted_sample(docs, "n_chars", 10, "doc_id").collect()
    )
    assert a == b
    tmp = _tf.mkdtemp(prefix="eng_zorder_")
    ev = eng.table("events").withColumn(
        "epoch_day",
        F.datediff(F.to_date(F.col("ts")), F.lit("1970-01-01")).cast("long"),
    )
    eng.zorder_write(ev, tmp, "user_id", "epoch_day")
    got = eng.zorder_read(tmp, (0, 5), (19723, 19730))
    flat = ev.filter(
        (F.col("user_id") >= 0) & (F.col("user_id") <= 5)
        & (F.col("epoch_day") >= 19723) & (F.col("epoch_day") <= 19730)
    )
    got_exact = got.filter(
        (F.col("user_id") >= 0) & (F.col("user_id") <= 5)
        & (F.col("epoch_day") >= 19723) & (F.col("epoch_day") <= 19730)
    )
    assert got_exact.count() == flat.count()


def test_sql_vector_operators(spark):
    """datavec's literal query syntax — `embedding <-> '[...]'` ORDER BY
    LIMIT k (datavec--0.7.2.sql:172-187 operators) — must run through
    Engine.sql and rank identically to the gated knn queries."""
    from opengauss_vectordb_spark import registry
    from opengauss_vectordb_spark.engine import Engine
    from opengauss_vectordb_spark.vector.queries import QUERY_VEC

    registry.load_all_queries()
    from opengauss_vectordb_spark.registry import QUERIES

    eng = Engine(spark, sf_dir=SF_CORRECT)
    qlit = "'[" + ", ".join(str(v) for v in QUERY_VEC) + "]'"
    got = eng.sql(
        f"SELECT vec_id, embedding <-> {qlit} AS d FROM embeddings "
        "WHERE embedding IS NOT NULL ORDER BY d, vec_id LIMIT 10"
    ).collect()
    exact = QUERIES["knn_l2"](spark, SF_CORRECT).collect()
    assert [r.vec_id for r in got] == [r.vec_id for r in exact]
    # negative inner product (<#>) ranks like the knn_inner_product query
    got_ip = eng.sql(
        f"SELECT vec_id, embedding <#> {qlit} AS d FROM embeddings "
        "WHERE embedding IS NOT NULL ORDER BY d, vec_id LIMIT 10"
    ).collect()
    exact_ip = QUERIES["knn_inner_product"](spark, SF_CORRECT).collect()
    assert [r.vec_id for r in got_ip] == [r.vec_id for r in exact_ip]


def test_ivf_rejects_over_cap_dimension(spark):
    """ivfflat.h:25 / hnsw.h:12 — indexable dimension cap is 2000; the
    build must refuse loudly, not produce a silently unusable index."""
    import pytest as _pt

    from opengauss_vectordb_spark.vector.ivf import IvfIndex

    wide = spark.createDataFrame(
        [(0, [0.0] * 2001), (1, [1.0] * 2001)], "id BIGINT, v ARRAY<DOUBLE>"
    )
    with _pt.raises(ValueError, match="dimension cap"):
        IvfIndex.build(wide, "v", "/tmp/ivf_dim_cap_test", lists=2)


def test_unigram_logprob_capped_oov(spark):
    """The 100 TB operating point of the perplexity filter: a capped
    vocabulary broadcasts bounded state and OOV tokens take the floor
    probability — scores stay finite and rank rare-token docs worse."""
    from opengauss_vectordb_spark.operators.text import (
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [
            (0, "common common common common"),
            (1, "common common rare1 rare2"),
        ],
        "doc_id BIGINT, text STRING",
    )
    got = {
        r.doc_id: r
        for r in unigram_logprob_scores(docs, vocab_cap=1).collect()
    }
    # doc 0 is pure in-vocab; doc 1 carries two OOV tokens at the floor
    assert got[0].avg_nll < got[1].avg_nll
    assert all(r.n_tokens == 4 for r in got.values())
    # uncapped self-scoring reproduces the corpus distribution exactly
    full = {
        r.doc_id: r.avg_nll for r in unigram_logprob_scores(docs).collect()
    }
    assert full[0] < full[1]


def test_tsquery_containment():
    """tsquery @> / <@ (tsquery_op.cpp tsq_mcontains/tsq_mcontained):
    lexeme containment with the reference's QueryItem-size fast gate."""
    from opengauss_vectordb_spark.operators.text import (
        tsquery_contained,
        tsquery_contains,
    )

    assert tsquery_contains("a & b & c", "a & c")
    assert tsquery_contains("a & b", "a")
    assert not tsquery_contains("a & b", "a & d")
    # lexeme semantics, not structural: NOT/OR shapes don't matter
    assert tsquery_contains("a & !b | c", "b & c")
    # phrase operands count as lexemes
    assert tsquery_contains("x <-> y & z", "y")
    # size gate: a bigger ex can never be contained
    assert not tsquery_contains("a", "a & a & a")
    assert tsquery_contained("a", "a & b")
    assert not tsquery_contained("a & b", "a")


def test_index_root_remote_warehouse_keeps_uri():
    """A remote warehouse dir (s3://…) with no explicit index root must
    keep the FULL URI: urlparse().path would hand the driver a local
    dir to mkdir while Spark writers resolve the schemeless string
    against defaultFS — a silently inconsistent index location."""
    from opengauss_vectordb_spark.vector.queries import index_root

    class _Conf:
        def __init__(self, d):
            self._d = d

        def get(self, k, default=None):
            return self._d.get(k, default)

    class _Spark:
        def __init__(self, d):
            self.conf = _Conf(d)

    got = index_root(
        _Spark({"spark.sql.warehouse.dir": "s3://bucket/wh/"})
    )
    assert got == "s3://bucket/wh/_indexes"
    # explicit schemed override returned untouched
    got = index_root(_Spark({
        "spark.sql.warehouse.dir": "s3://bucket/wh",
        "spark.graft.index.root": "hdfs://nn/indexes",
    }))
    assert got == "hdfs://nn/indexes"
    # local warehouse still materializes a real directory
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        got = index_root(_Spark({"spark.sql.warehouse.dir": td}))
        import os
        assert got == os.path.join(td, "_indexes")
        assert os.path.isdir(got)


# ------------------------------------------------ IVF labeling expression

def _inline_assign(vec, C, metric, eps):
    """The labeling expression as first written: one ``F.lit`` per
    centroid element, and the distance subtree spelled at each use."""
    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    if metric == "hamming":
        cents = F.array(*[F.array(*[F.lit(int(x)).cast("long") for x in c])
                          for c in C])
        dists = F.transform(cents, lambda c: fold(F.zip_with(
            vec, c, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("double"))))
    else:
        cents = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in C])
        if metric == "cosine":
            norm = F.sqrt(fold(F.transform(vec, lambda x: x * x)))
            dists = F.transform(cents, lambda c: F.lit(1.0) - fold(
                F.zip_with(vec, c, lambda x, y: x * y)) / (
                norm * F.sqrt(fold(F.transform(c, lambda y: y * y)))))
        else:
            dists = F.transform(cents, lambda c: fold(
                F.zip_with(vec, c, lambda x, y: (x - y) * (x - y))))
    m1 = F.array_min(dists)
    primary = (F.array_position(dists, m1) - 1).cast("int")
    if eps <= 1.0:
        return F.array(primary)
    rest = F.filter(dists, lambda x: x > m1)
    m2 = F.array_min(rest)
    secondary = (F.array_position(dists, m2) - 1).cast("int")
    return F.when(m2.isNotNull() & (m2 <= F.lit(float(eps)) * m1),
                  F.array(primary, secondary)).otherwise(F.array(primary))


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine", "l1", "hamming"])
def test_ivf_labels_match_inline_formulation(spark, metric):
    """The one-literal, bound-once labeling expression assigns every
    row the lists the per-element formulation did: spill ties
    (duplicate centroids, midpoints), zero vectors, NULL and a
    dimension mismatch included."""
    from opengauss_vectordb_spark.vector.ivf import assign_lists_expr

    rng = np.random.default_rng(17)
    dim = 4
    if metric == "hamming":
        C = rng.integers(0, 2**32, (5, dim))
        C = np.vstack([C, C[1], np.zeros((1, dim), dtype=np.int64)])
        vecs = [[int(x) for x in v] for v in rng.integers(0, 2**32, (20, dim))]
        vecs += [[int(x) for x in C[1]], [int(x) for x in C[0] | C[2]],
                 [0] * dim, [1] * (dim - 1), [1] * (dim + 1), None]
        schema = "i INT, v ARRAY<BIGINT>"
        C = C.astype(np.float64)
    else:
        C = rng.normal(size=(5, dim))
        C = np.vstack([C, C[1], np.zeros((1, dim))])
        vecs = [[float(x) for x in v] for v in rng.normal(size=(20, dim))]
        vecs += [[float(x) for x in C[1]],
                 [float(x) for x in (C[0] + C[2]) / 2],
                 [0.0] * dim, [0.5] * (dim - 1), [0.5] * (dim + 1), None]
        schema = "i INT, v ARRAY<DOUBLE>"
    df = spark.createDataFrame(list(enumerate(vecs)), schema)
    for eps in (1.0, 1.44, 1e9):
        got = df.select(
            "i",
            assign_lists_expr("v", C, metric, eps).alias("new"),
            _inline_assign(F.col("v"), C, metric, eps).alias("old"),
        ).orderBy("i").collect()
        assert [r.new for r in got] == [r.old for r in got], eps


# ------------------------------------------------- Python worker daemon

def test_python_workers_run_patched_zip_invalidation(spark):
    import zipimport

    def owner(_):
        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(owner).collect()
    assert got == ["opengauss_vectordb_spark._pydaemon"]


def test_zip_invalidation_rereads_only_changed_archive(tmp_path, monkeypatch):
    import zipfile
    import zipimport

    from opengauss_vectordb_spark import _pydaemon

    reads = []

    def counting_reread(self):
        reads.append(self.archive)
        return real_reread(self)

    real_reread = _pydaemon._reread
    monkeypatch.setattr(_pydaemon, "_reread", counting_reread)
    monkeypatch.setattr(_pydaemon, "_READ_STAMPS", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pydaemon.invalidate_caches)
    path = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m_one.py", "X = 1\n")
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()  # never read through the patch: reads
    assert len(reads) == 1
    imp.invalidate_caches()  # unchanged: no read
    assert len(reads) == 1
    assert imp.find_spec("m_one") is not None
    # rewritten in place with new content (and a new mtime): read again
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("m_one.py", "X = 1\n")
        z.writestr("m_two.py", "X = 2\n")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    assert len(reads) == 2
    assert imp.find_spec("m_two") is not None
    # a second importer of the same unchanged archive takes that read
    other = zipimport.zipimporter(path)
    other.invalidate_caches()
    assert len(reads) == 2
    assert other.find_spec("m_two") is not None
