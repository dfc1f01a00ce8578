"""Registered vector queries over the driver's `embeddings` table
(vec_id BIGINT, embedding ARRAY<FLOAT> dim=64, label INT).

Each mirrors the datavec ANN query shape `SELECT ... ORDER BY vec <op> q
LIMIT k` (`contrib/datavec/sql/datavec--0.7.2.sql:353-403`) with the
DuckDB oracle spelled as the identical arithmetic so results hash-match.
Distances are computed on doubles with the same fold order in both
engines; displayed distances are rounded to 4 decimals while the ORDER BY
ranks on the exact value.

The index gates are rows of one runner, ``_index_gate``: each builds
an IVF or HNSW index and searches it through ``AnnCatalog.topk``, the
path the SQL text routes, at the exhaustive operating point (probes =
lists, an unbounded beam), where it must equal the exact scan.  A row
gives only what differs:

=================================  =======  =======  ==========  ==================  =================
row                                am       metric   column      where / maintenance  output
=================================  =======  =======  ==========  ==================  =================
ivf_search_exhaustive              ivfflat  l2       embedding   (cached layout)     distance DOUBLE
ivf_filtered_full                  ivfflat  l2       embedding   label % 5 = 2       distance DOUBLE
ivf_append_then_search             ivfflat  l2       embedding   append + compact    distance DOUBLE
ann_route_topk                     ivfflat  l2       embedding   (cached layout)     distance DOUBLE
ivf_search_cosine_exhaustive       ivfflat  cosine   embedding                       distance DOUBLE
ivf_search_ip_exhaustive           ivfflat  ip       embedding                       distance DOUBLE
ivf_delete_then_search             ivfflat  l2       embedding   vacuum_delete       distance DOUBLE
ivf_search_halfvec_exhaustive      ivfflat  l2       halfvec                         distance DOUBLE
ivf_search_bit_exhaustive          ivfflat  hamming  bit words                       hamming BIGINT
hnsw_search_exhaustive             hnsw     l2       embedding                       distance DOUBLE
hnsw_search_l1_exhaustive          hnsw     l1       embedding                       distance DOUBLE
hnsw_search_bit_exhaustive         hnsw     hamming  bit words                       hamming BIGINT
hnsw_search_halfvec_exhaustive     hnsw     l2       halfvec                         distance DOUBLE
hnsw_search_sparsevec_exhaustive   hnsw     ip       sparsified                      distance DOUBLE
hnsw_filtered_search               hnsw     l2       embedding   label = 3           distance DOUBLE
hnsw_delete_then_search            hnsw     l2       embedding   vacuum_delete       distance DOUBLE
=================================  =======  =======  ==========  ==================  =================

A new index gate is one more row.  The batch-join gates
(``ivf_knn_join_full``, ``hnsw_knn_join_exhaustive``) and the property
gates (``ivf_search_probed``, ``knn_pq_rerank``) search other paths.
"""

from __future__ import annotations

import contextlib
import math
import shutil
import tempfile

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from .distance import (
    as_double,
    cosine_distance,
    dlit_sql,
    dot_product,
    l1_distance,
    l2_distance,
    neg_inner_product,
)
from .exact import knn_join

# Deterministic 64-d query vector (same literal in Spark and the oracle).
DIM = 64
QUERY_VEC = [round(math.sin(i + 1.0), 4) for i in range(DIM)]

_SQL_Q = "[" + ", ".join(repr(v) for v in QUERY_VEC) + "]"
_E = "CAST(embedding AS DOUBLE[])"
# the same operands as Spark SQL text, for the distance kernels
_SPARK_E = as_double("embedding")
_SPARK_Q = dlit_sql(QUERY_VEC)


def _sql_sq_l2(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, {DIM + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))))"
    )


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {DIM + 1}), i -> {a}[i] * {b}[i]))"
    )


def _sql_norm(a: str) -> str:
    return f"sqrt(list_sum(list_transform(range(1, {DIM + 1}), i -> {a}[i] * {a}[i])))"


def _sql_l1(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {DIM + 1}), i -> abs({a}[i] - {b}[i])))"


def _spark_qlit():
    # one-py4j-call literal (identical CreateArray of double Literals;
    # r13 guide §5 — the 64-element F.lit spelling cost ~65 round trips
    # per use across every knn/ivf/hnsw query build)
    from .distance import dlit_array

    return dlit_array(QUERY_VEC)


def _knn_oracle(sql_dist: str, pred: str | None = None) -> str:
    """DuckDB text of the exact top 10 by ``sql_dist``, a distance over
    ``e`` (the embedding as doubles) and ``q`` (QUERY_VEC), among the
    rows with an embedding and, when given, ``pred``."""
    extra = f" AND {pred}" if pred else ""
    return f"""
        WITH scored AS (
          SELECT vec_id, label, {sql_dist} AS d
          FROM (SELECT vec_id, label, {_E} AS e, {_SQL_Q} AS q FROM embeddings
                WHERE embedding IS NOT NULL{extra})
        )
        SELECT vec_id, label, ROUND(d, 4) AS distance
        FROM scored ORDER BY d, vec_id LIMIT 10
        """


# the oracle spellings of <-> / <=> / <#> / <+>
_SQL_L2 = _sql_sq_l2("e", "q")
_SQL_COSINE = (
    f"1.0 - {_sql_dot('e', 'q')} / ({_sql_norm('e')} * {_sql_norm('q')})"
)
_SQL_NEG_IP = f"-({_sql_dot('e', 'q')})"
_SQL_L1 = _sql_l1("e", "q")


def _knn_query(name: str, dist_col_fn, sql_dist: str):
    @query(name, _knn_oracle(sql_dist))
    def _q(spark, sf_dir):
        emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
        d = dist_col_fn(_SPARK_E, _SPARK_Q)
        return (
            emb.withColumn("_d", d)
            .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
            .limit(10)
            .select("vec_id", "label", F.round("_d", 4).alias("distance"))
        )

    _q.__name__ = name
    return _q


# <-> / <=> / <#> / <+> — the four datavec float-vector distances
knn_l2 = _knn_query("knn_l2", l2_distance, _SQL_L2)
knn_cosine = _knn_query("knn_cosine", cosine_distance, _SQL_COSINE)
knn_inner_product = _knn_query(
    "knn_inner_product", neg_inner_product, _SQL_NEG_IP
)
knn_l1 = _knn_query("knn_l1", l1_distance, _SQL_L1)


# --------------------------------------------------------------------------
# vector arithmetic / utility functions (vector.h:26-64, sql:192-246):
# +, -, * element-wise, vector_dims, vector_norm, l2_normalize, subvector,
# binary_quantize — exercised per-row, scalar outputs for stable hashing
# --------------------------------------------------------------------------
@query(
    "vector_ops",
    f"""
    SELECT vec_id,
           len(e) AS dims,
           ROUND({_sql_norm('e')}, 4) AS norm,
           ROUND(list_sum(list_transform(range(1, 9), i -> e[i] + q[i])), 4)
             AS add_head_sum,
           ROUND(list_sum(list_transform(range(1, 9), i -> e[i] - q[i])), 4)
             AS sub_head_sum,
           ROUND(list_sum(list_transform(range(1, 9), i -> e[i] * q[i])), 4)
             AS mul_head_sum,
           ROUND(e[1] / {_sql_norm('e')}, 6) AS normalized_first,
           CAST(list_sum(list_transform(e, x -> CASE WHEN x > 0 THEN 1 ELSE 0 END))
                AS BIGINT) AS quantize_popcount
    FROM (SELECT vec_id, {_E} AS e, {_SQL_Q} AS q FROM embeddings
          WHERE vec_id < 20)
    ORDER BY vec_id
    """,
)
def vector_ops(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    e = F.expr(_SPARK_E)
    q = _spark_qlit()
    head = F.slice(e, 1, 8)
    qhead = F.slice(q, 1, 8)
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)  # noqa: E731
    norm = F.sqrt(fold(F.transform(e, lambda x: x * x)))
    return emb.select(
        "vec_id",
        F.size(e).alias("dims"),
        F.round(norm, 4).alias("norm"),
        F.round(fold(F.zip_with(head, qhead, lambda x, y: x + y)), 4).alias(
            "add_head_sum"
        ),
        F.round(fold(F.zip_with(head, qhead, lambda x, y: x - y)), 4).alias(
            "sub_head_sum"
        ),
        F.round(fold(F.zip_with(head, qhead, lambda x, y: x * y)), 4).alias(
            "mul_head_sum"
        ),
        F.round(F.element_at(e, 1) / norm, 6).alias("normalized_first"),
        fold(
            F.transform(e, lambda x: F.when(x > 0, 1.0).otherwise(0.0))
        ).cast("long").alias("quantize_popcount"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# avg(vector) — element-wise vector aggregate (datavec vector_accum /
# vector_avg, sql:116-130). Exact decimal per-element sums → deterministic
# under any shuffle order. First 8 dimensions shown as scalar columns.
# --------------------------------------------------------------------------
_AVG_DIMS = 8


def _sql_avg_elem(i: int) -> str:
    # fp32 elements have more decimal digits than any fixed decimal scale,
    # so decimal casts round differently per engine; instead floor-scale
    # to int64 in double space (IEEE-deterministic), sum exactly, then
    # divide — identical in both engines and shuffle-order independent.
    return (
        f"CAST(SUM(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * 1e9) AS BIGINT))"
        f" AS DOUBLE) / COUNT(*) / 1e9 AS d{i}"
    )


@query(
    "vector_avg_by_label",
    "SELECT label, COUNT(*) AS n, "
    + ", ".join(_sql_avg_elem(i) for i in range(_AVG_DIMS))
    + " FROM embeddings WHERE embedding IS NOT NULL GROUP BY label ORDER BY label",
)
def vector_avg_by_label(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(_AVG_DIMS):
        elem = F.floor(
            F.element_at(F.col("embedding"), i + 1).cast("double") * 1e9
        ).cast("long")
        aggs.append(
            (F.sum(elem).cast("double") / F.count(F.lit(1)) / 1e9).alias(f"d{i}")
        )
    return emb.groupBy("label").agg(*aggs).orderBy("label")


# --------------------------------------------------------------------------
# exact k-NN join — batch top-k per query vector (the ground-truth path of
# the reference's recall harness, t/012:12-46)
# --------------------------------------------------------------------------
@query(
    "knn_join_exact",
    f"""
    WITH q AS (SELECT vec_id AS qid, {_E} AS qv FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, {_E} AS cv FROM embeddings
               WHERE vec_id >= 5 AND embedding IS NOT NULL),
         scored AS (
           SELECT qid, cid, {_sql_sq_l2('qv', 'cv')} AS d,
                  ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY {_sql_sq_l2('qv', 'cv')}, cid) AS rn
           FROM c CROSS JOIN q
         )
    SELECT qid, cid, ROUND(d, 4) AS distance, rn
    FROM scored WHERE rn <= 3 ORDER BY qid, rn
    """,
)
def knn_join_exact(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding")
    )
    c = emb.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cand_embedding")
    )
    out = knn_join(
        q, c, "embedding", "cand_embedding", k=3, metric="l2",
        query_id="qid", cand_id="cid",
    )
    return out.select(
        "qid", "cid", F.round("distance", 4).alias("distance"),
        F.col("_rn").alias("rn"),
    ).orderBy("qid", "rn")


# --------------------------------------------------------------------------
# near-duplicate pairs by cosine distance — brute force at test scale; the
# LSH-bucketed scale path lives in operators/dedup.py
# --------------------------------------------------------------------------
@query(
    "embedding_dup_pairs_cosine",
    f"""
    WITH v AS (SELECT vec_id, {_E} AS e FROM embeddings
               WHERE embedding IS NOT NULL)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(1.0 - {_sql_dot('a.e', 'b.e')}
                 / ({_sql_norm('a.e')} * {_sql_norm('b.e')}), 4) AS cos_dist
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE 1.0 - {_sql_dot('a.e', 'b.e')}
          / ({_sql_norm('a.e')} * {_sql_norm('b.e')}) < 0.50
    ORDER BY id_a, id_b
    """,
)
def embedding_dup_pairs_cosine(spark, sf_dir):
    # threshold 0.5 is calibrated to the synthetic near-uniform
    # embeddings so the gate row is NON-vacuous (nearest pair sits at
    # cos_dist 0.487 at sf0.01): a 0-row result would hash-match any
    # 0-row oracle and prove nothing
    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    a = emb.selectExpr("vec_id AS id_a", f"{_SPARK_E} AS _ea")
    b = emb.selectExpr("vec_id AS id_b", f"{_SPARK_E} AS _eb")
    d = cosine_distance("_ea", "_eb", dim=DIM)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_d", d)
        .filter(F.col("_d") < 0.50)
        .select("id_a", "id_b", F.round("_d", 4).alias("cos_dist"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# binary-vector distances (bitutils.cpp: hamming `<~>` sql:720, jaccard
# `<%>` sql:723) over binary_quantize'd embeddings, packed 32 bits/word
# --------------------------------------------------------------------------
_SQL_WORDS = (
    "list_transform(range(0, 2), w -> list_sum(list_transform(range(0, 32),"
    " j -> CASE WHEN {v}[32 * w + j + 1] > 0"
    " THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)))"
)


_HAMMING_ORACLE = f"""
    WITH q AS (SELECT {_SQL_WORDS.format(v=_SQL_Q)} AS qw),
         v AS (SELECT vec_id, label, {_SQL_WORDS.format(v=_E)} AS ew
               FROM embeddings WHERE embedding IS NOT NULL)
    SELECT vec_id, label,
           CAST(list_sum(list_transform(range(1, 3),
                i -> bit_count(xor(ew[i], qw[i])))) AS BIGINT) AS hamming
    FROM v, q
    ORDER BY hamming, vec_id LIMIT 10
    """
# QUERY_VEC's binary_quantize words: bit j of word w is element 32w+j > 0
_QUERY_WORDS = [
    sum(1 << j for j in range(32) if QUERY_VEC[32 * w + j] > 0)
    for w in range(DIM // 32)
]


@query("knn_hamming_binary", _HAMMING_ORACLE)
def knn_hamming_binary(spark, sf_dir):
    from .distance import hamming_distance
    from .types import binary_quantize_sql

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    qw = binary_quantize_sql(_SPARK_Q)
    ew = binary_quantize_sql(_SPARK_E)
    return (
        emb.withColumn("_h", hamming_distance(ew, qw))
        .orderBy(F.col("_h").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.col("_h").alias("hamming"))
    )


@query(
    "knn_jaccard_binary",
    f"""
    WITH q AS (SELECT {_SQL_WORDS.format(v=_SQL_Q)} AS qw),
         v AS (SELECT vec_id, {_SQL_WORDS.format(v=_E)} AS ew
               FROM embeddings WHERE embedding IS NOT NULL),
         d AS (
           SELECT vec_id,
                  list_sum(list_transform(range(1, 3),
                    i -> bit_count(ew[i] & qw[i]))) * 1.0 AS inter,
                  list_sum(list_transform(range(1, 3),
                    i -> bit_count(ew[i] | qw[i]))) * 1.0 AS uni
           FROM v, q
         )
    SELECT vec_id,
           ROUND(CASE WHEN uni = 0 THEN 0.0 ELSE 1.0 - inter / uni END, 6)
             AS jaccard_dist
    FROM d ORDER BY (CASE WHEN uni = 0 THEN 0.0 ELSE 1.0 - inter / uni END),
                    vec_id
    LIMIT 10
    """,
)
def knn_jaccard_binary(spark, sf_dir):
    from .distance import jaccard_distance
    from .types import binary_quantize_sql

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    qw = binary_quantize_sql(_SPARK_Q)
    ew = binary_quantize_sql(_SPARK_E)
    return (
        emb.withColumn("_j", jaccard_distance(ew, qw))
        .orderBy(F.col("_j").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("_j", 6).alias("jaccard_dist"))
    )


# --------------------------------------------------------------------------
# sparsevec (sparsevec.h:44-55): threshold-sparsified embeddings, O(nnz)
# inner product against the sparsified query — no densification
# --------------------------------------------------------------------------
_SPARSE_T = 0.15


@query(
    "sparsevec_dot_topk",
    f"""
    WITH v AS (
      SELECT vec_id, {_E} AS e, {_SQL_Q} AS q FROM embeddings
      WHERE embedding IS NOT NULL
    ), d AS (
      SELECT vec_id,
             len(list_filter(e, x -> abs(x) > {_SPARSE_T})) AS nnz,
             list_sum(list_transform(range(1, {DIM + 1}),
               i -> CASE WHEN abs(e[i]) > {_SPARSE_T} AND abs(q[i]) > {_SPARSE_T}
                         THEN e[i] * q[i] ELSE 0.0 END)) AS sdot
      FROM v
    )
    SELECT vec_id, nnz, ROUND(sdot, 6) AS sdot
    FROM d ORDER BY sdot DESC, vec_id LIMIT 10
    """,
)
def sparsevec_dot_topk(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e = F.expr(_SPARK_E)
    # the query vector is a CONSTANT: sparsify it driver-side once and
    # unroll the dot product over its fixed nonzero positions — a flat
    # codegen'd sum of element_at terms. Building sparsevec structs +
    # a lookup map per row (to_sparsevec/sparse_dot, which remain the
    # general two-variable-column path, exercised in test_components)
    # costs interpreted higher-order-function evaluation per row for
    # work the constant side already determines. Term order is ascending
    # index, matching the oracle's list_sum fold; skipped terms are
    # exact 0.0 contributions.
    qnz = [(i, v) for i, v in enumerate(QUERY_VEC) if abs(v) > _SPARSE_T]
    # build the unrolled sum as ONE SQL string → one parse call: pushing
    # ~300 individual Column-API calls through the Python/JVM bridge
    # costs ~10× the query's actual execution at this width
    ed = "CAST(embedding[{i}] AS DOUBLE)"
    sdot = F.expr(
        " + ".join(
            f"(CASE WHEN abs({ed.format(i=i)}) > {_SPARSE_T}"
            f" THEN {ed.format(i=i)} * CAST({float(v)!r} AS DOUBLE)"
            f" ELSE 0.0D END)"
            for i, v in qnz
        )
    )
    nnz = F.size(F.filter(e, lambda x: F.abs(x) > F.lit(_SPARSE_T)))
    return (
        emb.withColumn("_sdot", sdot)
        .withColumn("_nnz", nnz)
        .orderBy(F.col("_sdot").desc(), F.col("vec_id").asc())
        .limit(10)
        .select(
            "vec_id",
            F.col("_nnz").alias("nnz"),
            F.round("_sdot", 6).alias("sdot"),
        )
    )


# --------------------------------------------------------------------------
# halfvec (halfvec.h:55-70): fp16 round-trip storage semantics. DuckDB has
# no fp16 type, but IEEE-754 half rounding is deterministic arithmetic:
#   e = floor(log2|x|); normal (e >= -14): quantum = 2^(e-10);
#   subnormal: quantum = 2^-24; value = round-half-even(|x|/quantum)*quantum
# so the oracle spells the quantizer out in SQL (verified bit-identical to
# numpy's float16 cast across the whole embeddings table).
# --------------------------------------------------------------------------


def _sql_rhe(y: str) -> str:
    """Round-half-even of a nonnegative expression, in portable SQL."""
    return (
        f"(CASE WHEN ({y}) - floor({y}) < 0.5 THEN floor({y})"
        f" WHEN ({y}) - floor({y}) > 0.5 THEN floor({y}) + 1"
        f" ELSE floor({y}) + CAST(CAST(floor({y}) AS BIGINT) % 2 AS DOUBLE)"
        f" END)"
    )


def _sql_fp16(x: str = "x") -> str:
    q = f"pow(2.0, floor(log2(abs({x}))) - 10)"
    return (
        f"CASE WHEN {x} = 0 OR {x} IS NULL THEN {x}"
        f" WHEN abs({x}) >= 65520 THEN sign({x}) * CAST('inf' AS DOUBLE)"
        f" WHEN floor(log2(abs({x}))) < -14"
        f" THEN sign({x}) * {_sql_rhe(f'abs({x}) * 16777216.0')} / 16777216.0"
        f" ELSE sign({x}) * {_sql_rhe(f'abs({x}) / {q}')} * {q}"
        f" END"
    )


_HALFVEC_ORACLE = f"""
    WITH h AS (
      SELECT vec_id, label,
             list_transform({_E}, x -> {_sql_fp16('x')}) AS e,
             {_SQL_Q} AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ), scored AS (
      SELECT vec_id, label, {_SQL_L2} AS d FROM h
    )
    SELECT vec_id, label, ROUND(d, 4) AS distance
    FROM scored ORDER BY d, vec_id LIMIT 10
    """


@query("knn_l2_halfvec", _HALFVEC_ORACLE)
def knn_l2_halfvec(spark, sf_dir):
    from .types import halfvec_quantize

    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    d = l2_distance(as_double("_h"), _SPARK_Q)
    return (
        emb.withColumn("_h", halfvec_quantize(F.col("embedding")))
        .withColumn("_d", d)
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("_d", 4).alias("distance"))
    )


# --------------------------------------------------------------------------
# IVF ANN through the driver gate: with probes = lists the probed search
# is exhaustive and must EQUAL the exact scan (ivfscan.cpp degenerate
# case; the t/003 probes=lists recall=1.0 row of BASELINE.md) — so it
# shares the exact-knn oracle. The probed variant (probes=4 of 16) is the
# real ANN path, gated on its property contract (count / distance
# exactness / recall floor), recall-gated precisely in pytest.
# --------------------------------------------------------------------------
_IVF_LISTS = 16


def _has_scheme(path: str) -> bool:
    import re as _re

    # URI schemes are case-insensitive (RFC 3986) and Hadoop accepts
    # either case — 'S3://…' must not be mistaken for a local dir
    return bool(_re.match(r"^[a-z][a-z0-9+.-]*://", path, _re.IGNORECASE))


def index_root(spark) -> str:
    """Root for index layouts: under the session warehouse (the
    zorder_root/bucketed convention), overridable via
    ``spark.graft.index.root`` — on a cluster point it at shared
    durable storage (s3://… / hdfs://…), never node-local tmp.
    Schemed roots are returned untouched (Spark's writers create them);
    local roots are created eagerly."""
    import os
    from urllib.parse import urlparse

    conf_root = spark.conf.get("spark.graft.index.root", None)
    if conf_root:
        if _has_scheme(conf_root):
            return conf_root
        root = conf_root
    else:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        if _has_scheme(wh) and not wh.lower().startswith("file:"):
            # remote warehouse (s3://… / hdfs://…) with no explicit
            # index root: keep the FULL URI — stripping the scheme
            # would make the driver mkdir a local path while Spark's
            # writers resolve the schemeless string against defaultFS
            # (the _local_scratch remote-warehouse case)
            return wh.rstrip("/") + "/_indexes"
        root = os.path.join(urlparse(wh).path, "_indexes")
    os.makedirs(root, exist_ok=True)
    return root


def _layout_exists(spark, path: str) -> bool:
    """Existence check that follows the root's filesystem: Hadoop FS
    for schemed paths (s3/hdfs/…), os.path locally — so a remote
    ``spark.graft.index.root`` still sees its _SUCCESS markers instead
    of silently rebuilding every index."""
    import os

    if not _has_scheme(path):
        return os.path.exists(path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hpath)


def _local_scratch(spark) -> str:
    """Always-local scratch for gate fixtures (mkdtemp) — small
    driver-side artifacts, distinct from the (possibly remote) layout
    root. Falls back to the system tmp dir when the session warehouse
    itself is remote (a remote warehouse URI's path component is NOT a
    usable local directory)."""
    import os
    import tempfile
    from urllib.parse import urlparse

    wh_conf = spark.conf.get("spark.sql.warehouse.dir")
    if _has_scheme(wh_conf) and not wh_conf.lower().startswith("file:"):
        root = os.path.join(
            tempfile.gettempdir(), "spark_graft_local_indexes"
        )
    else:
        root = os.path.join(urlparse(wh_conf).path, "_indexes")
    os.makedirs(root, exist_ok=True)
    return root


def _ivf_index(spark, sf_dir):
    import hashlib
    import os

    from .ivf import IvfIndex

    # layout version in the cache key: a format change in IvfIndex must
    # not read a stale index written by an older build
    key = hashlib.md5(f"{sf_dir}|layout-v2".encode()).hexdigest()[:10]
    path = os.path.join(index_root(spark), f"ivf_embeddings_{key}")
    marker = path + "/centroids/_SUCCESS"
    idx = IvfIndex(path, metric="l2", lists=_IVF_LISTS)
    if not _layout_exists(spark, marker):
        emb = table(spark, sf_dir, "embeddings")
        IvfIndex.build(
            emb, "embedding", path, metric="l2", lists=_IVF_LISTS, max_iter=30
        )
    return idx


@contextlib.contextmanager
def _scratch_dir(spark, prefix: str):
    """A fresh local directory for an index a gate builds, removed when
    the gate returns: the gate must materialise its rows first."""
    tmp = tempfile.mkdtemp(prefix=prefix, dir=_local_scratch(spark))
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# the indexed columns the gates project from embeddings
def _halfvec():
    from .types import halfvec_quantize

    return halfvec_quantize(F.col("embedding"))


def _bit_words():
    from .types import binary_quantize_words

    return binary_quantize_words(_SPARK_E)


def _sparsified():
    return F.expr(f"transform({_SPARK_E}, _x -> CASE WHEN abs(_x) >"
                  f" {_SPARSE_T}D THEN _x ELSE 0.0D END)")


def _index_gate(name: str, oracle: str, am: str, metric: str = "l2", *,
                doc: str, col: str = "embedding", project=None,
                where: str | None = None, hold_out: str | None = None,
                delete: str | None = None,
                out: tuple[str, str] = ("distance", "DOUBLE"),
                qvec=QUERY_VEC, cached: bool = False):
    """Register one index gate: build an ``am`` index (``ivfflat`` or
    ``hnsw``) of ``metric`` over ``col`` of embeddings' rows, then
    search it through ``AnnCatalog.topk``, the path the SQL text
    routes, at the exhaustive operating point (probes = lists, an
    unbounded beam), where the index must return the exact top 10.

    ``project`` makes ``col`` from embeddings (a function returning
    the Column); ``where`` is a SQL filter on the search; ``hold_out``
    is the SQL predicate of rows left out of the build, then appended
    and compacted; ``delete`` is the SQL predicate, over the index
    layout, of rows vacuum-deleted after the build (the IVF data rows;
    the HNSW graph's ``id``).  The result is vec_id, label and the
    rounded distance as ``out`` (name, type).  A ``cached`` row searches
    the shared ``_ivf_index`` layout and stays lazy; any other row
    builds into a scratch directory and returns its collected rows."""
    out_col, out_type = out

    def search(spark, idx, rows):
        from ..plans.ann_rewrite import AnnCatalog

        catalog = AnnCatalog()
        catalog.register("embeddings", col, idx)
        if catalog.entry("embeddings", col, metric) is None:
            raise RuntimeError(f"{name}: the index does not serve {metric}")
        got = catalog.topk(
            spark, "embeddings", rows, col, qvec, k=10, metric=metric,
            probes=_IVF_LISTS, id_col="vec_id", ef_search=None,
            where=F.expr(where) if where else None,
        )
        return got.select(
            "vec_id", "label", F.round("distance", 4).alias(out_col)
        ).orderBy(out_col, "vec_id")

    def gate(spark, sf_dir):
        from .hnsw import HnswIndex
        from .ivf import IvfIndex
        from .maintenance import append_to_index, compact, vacuum_delete

        emb = table(spark, sf_dir, "embeddings")
        if cached:
            return search(spark, _ivf_index(spark, sf_dir), emb)
        rows = emb.filter("embedding IS NOT NULL")
        if project is not None:
            rows = rows.select("vec_id", "label", project().alias(col))
        with _scratch_dir(spark, f"{name}_") as path:
            built = rows.filter(f"NOT ({hold_out})") if hold_out else rows
            if am == "hnsw":
                idx = HnswIndex.build(built, col, path, id_col="vec_id",
                                      metric=metric, shards=4)
            else:
                idx = IvfIndex.build(built, col, path, metric=metric,
                                     lists=_IVF_LISTS, max_iter=30)
            if hold_out:
                append_to_index(spark, idx, rows.filter(hold_out), col)
                compact(spark, idx)
            if delete and am == "hnsw":
                idx.vacuum_delete(spark, F.expr(delete))
            elif delete:
                vacuum_delete(spark, idx, F.expr(delete))
            return spark.createDataFrame(
                search(spark, idx, rows).collect(),
                f"vec_id BIGINT, label INT, {out_col} {out_type}",
            )

    gate.__name__, gate.__doc__ = name, doc
    return query(name, oracle)(gate)


ivf_search_exhaustive = _index_gate(
    "ivf_search_exhaustive", _knn_oracle(_SQL_L2), "ivfflat", cached=True,
    doc="""The IVF index at probes = lists, where the probed search is
    exhaustive and must EQUAL the exact scan (ivfscan.cpp degenerate
    case; the t/003 probes=lists recall=1.0 row of BASELINE.md), so it
    shares the exact-knn oracle.""",
)


@query(
    "ivf_search_probed",
    """
    SELECT CAST(LEAST(10, COUNT(*)) AS BIGINT) AS n_results,
           TRUE AS distances_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def ivf_search_probed(spark, sf_dir):
    """The real ANN path (probes=4 of 16). Which rows surface depends on
    the learned centroids, so the gated contract is the property set a
    SQL oracle CAN pin: the search returns exactly k rows, every reported
    distance equals the true L2 distance recomputed from the base table,
    and recall@10 against the exact scan clears 0.3 — a low bar because
    the synthetic 64-d embeddings are near-uniform, the hardest regime
    for IVF (pytest holds the BASELINE.md per-probe thresholds on
    clusterable data)."""
    idx = _ivf_index(spark, sf_dir)
    probed = idx.search(
        spark, QUERY_VEC, "embedding", k=10, probes=4, id_col="vec_id"
    ).select("vec_id", "distance")
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    truth = emb.select(
        "vec_id",
        l2_distance(_SPARK_E, _SPARK_Q).alias("_td"),
    )
    exact10 = truth.orderBy(F.col("_td").asc(), F.col("vec_id").asc()).limit(10)
    checked = probed.join(truth, "vec_id").join(
        exact10.select("vec_id", F.lit(1).alias("_hit")), "vec_id", "left"
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.max(F.abs(F.col("distance") - F.col("_td"))) < 1e-9).alias(
            "distances_exact"
        ),
        (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) >= 3).alias("recall_ok"),
    )


@query(
    "knn_pq_rerank",
    """
    SELECT CAST(LEAST(10, COUNT(*)) AS BIGINT) AS n_results,
           TRUE AS distances_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def knn_pq_rerank(spark, sf_dir):
    """Product-quantized two-stage search (vector/pq.py): M=16×K=16
    codebooks compress each 256-byte float vector to 8 bytes (32×), the
    coarse stage scans ONLY codes via a JVM-side ADC lookup fold, and
    the top-100 shortlist exact-reranks to k=10. Like ivf_search_probed,
    the gated contract is the SQL-pinnable property set: exactly k rows,
    reported distances equal true L2 recomputed from the base table, and
    recall@10 ≥ 0.7 vs the exact scan (measured 0.9–1.0 here; codebooks
    are seed-deterministic so the result is stable)."""
    from .pq import pq_search

    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    books = _pq_books(spark, sf_dir)
    codes = emb.withColumn(
        "pq_codes", books.encode_udf()(F.col("embedding"))
    )
    got = pq_search(codes, books, QUERY_VEC, k=10, rerank=100).select(
        "vec_id", "distance"
    )
    truth = emb.select(
        "vec_id",
        l2_distance(_SPARK_E, _SPARK_Q).alias("_td"),
    )
    exact10 = truth.orderBy(F.col("_td").asc(), F.col("vec_id").asc()).limit(10)
    checked = got.join(truth, "vec_id").join(
        exact10.select("vec_id", F.lit(1).alias("_hit")), "vec_id", "left"
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.max(F.abs(F.col("distance") - F.col("_td"))) < 1e-9).alias(
            "distances_exact"
        ),
        (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) >= 7).alias("recall_ok"),
    )


# --------------------------------------------------------------------------
# btree opclass over vectors — lexicographic element-wise comparisons and
# ORDER BY on the vector value itself (datavec comparisons < <= = <> >= >
# + btree opclass, datavec--0.7.2.sql:210-246,353; test/sql/btree.sql).
# Arrays are orderable in both Spark and DuckDB with the same
# lexicographic semantics, so the operator stays fully codegen'd.
# --------------------------------------------------------------------------


@query(
    "vector_btree_compare",
    f"""
    WITH t AS (
      SELECT vec_id, {_E} AS e, {_SQL_Q} AS q FROM embeddings
      WHERE embedding IS NOT NULL
    )
    SELECT vec_id,
           (e = q) AS eq_q,
           (e < q) AS lt_q,
           (e >= q) AS ge_q,
           ROUND(e[1], 6) AS first_elem
    FROM t
    ORDER BY e, vec_id
    LIMIT 25
    """,
)
def vector_btree_compare(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    e = F.expr(_SPARK_E)
    q = _spark_qlit()
    return (
        emb.select(
            "vec_id",
            (e == q).alias("eq_q"),
            (e < q).alias("lt_q"),
            (e >= q).alias("ge_q"),
            F.round(F.element_at(e, 1), 6).alias("first_elem"),
            e.alias("_e"),
        )
        .orderBy("_e", "vec_id")
        .limit(25)
        .drop("_e")
    )


# --------------------------------------------------------------------------
# cast surface (datavec test/sql/cast.sql; cast declarations sql:558-580):
# vector → sparsevec → vector round-trip on a thresholded copy of the
# embedding. The oracle states the round-trip invariant (TRUE) — if the
# engine's cast chain dropped or reordered entries, the Spark-computed
# roundtrip_ok column would disagree and the value-hash would mismatch.
# --------------------------------------------------------------------------


@query(
    "vector_cast_roundtrip",
    f"""
    WITH t AS (
      SELECT vec_id,
             list_transform({_E},
                            x -> CASE WHEN abs(x) < 0.5 THEN 0.0 ELSE x END) AS v
      FROM embeddings WHERE embedding IS NOT NULL
    )
    SELECT vec_id,
           len(v) AS dim,
           len(list_filter(v, x -> x != 0)) AS nnz,
           ROUND(COALESCE(list_sum(list_filter(v, x -> x != 0)), 0.0), 4)
             AS nz_sum,
           TRUE AS roundtrip_ok
    FROM t ORDER BY vec_id
    """,
)
def vector_cast_roundtrip(spark, sf_dir):
    from .types import sparsevec_to_dense, to_sparsevec

    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = F.transform(
        F.expr(_SPARK_E),
        lambda x: F.when(F.abs(x) < 0.5, F.lit(0.0)).otherwise(x),
    )
    sv = to_sparsevec(v, value_type="double")
    back = sparsevec_to_dense(sv)
    nz = sv.getField("values")
    return emb.select(
        "vec_id",
        sv.getField("dim").alias("dim"),
        F.size(sv.getField("indices")).alias("nnz"),
        F.round(
            F.aggregate(nz, F.lit(0.0), lambda a, x: a + x), 4
        ).alias("nz_sum"),
        (back.cast("array<double>") == v).alias("roundtrip_ok"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# filtered ANN as a driver-gate query (t/009_ivfflat_filtering.pl,
# t/017_hnsw_filtering.pl): relational predicate + knn compose — the
# filter applies BEFORE the top-k heap, so the k results all satisfy it.
# --------------------------------------------------------------------------


@query("knn_l2_filtered", _knn_oracle(_SQL_L2, "label = 3"))
def knn_l2_filtered(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("label") == 3)
    )
    d = l2_distance(_SPARK_E, _SPARK_Q)
    return (
        emb.withColumn("_d", d)
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", F.round("_d", 4).alias("distance"))
    )


@query(
    "ivf_knn_join_full",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, {_E} AS qv FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id < 3
    ), c AS (
      SELECT vec_id AS cid, {_E} AS cv FROM embeddings
      WHERE embedding IS NOT NULL
    ), d AS (
      SELECT qid, cid,
             sqrt(list_sum(list_transform(range(1, {DIM + 1}),
                  i -> (qv[i] - cv[i]) * (qv[i] - cv[i])))) AS dist
      FROM q, c
    ), r AS (
      SELECT qid, cid, dist,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, cid) AS rn
      FROM d
    )
    SELECT qid, cid, ROUND(dist, 4) AS distance, rn
    FROM r WHERE rn <= 5 ORDER BY qid, rn
    """,
)
def ivf_knn_join_full(spark, sf_dir):
    """Batch ANN join through the IVF index at probes = lists — exact by
    construction (every list is probed), so the DuckDB brute-force
    window oracle hash-checks the whole join path: centroid broadcast,
    per-query probe ranking, list_id equi-join, spill dedup, per-query
    top-k window (ivf.py knn_join; ivfscan.cpp's probed merge done as a
    co-partitioned join). At production probes << lists the same plan
    reads only probes/lists of the corpus per query."""
    idx = _ivf_index(spark, sf_dir)
    queries = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & (F.col("vec_id") < 3))
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    out = idx.knn_join(
        spark,
        queries,
        "embedding",
        "embedding",
        k=5,
        probes=_IVF_LISTS,
        query_id="qid",
        cand_id="vec_id",
    )
    return out.select(
        "qid",
        F.col("vec_id").alias("cid"),
        F.round("distance", 4).alias("distance"),
        F.col("_rn").alias("rn"),
    ).orderBy("qid", "rn")


@query(
    "knn_binary_rerank",
    f"""
    WITH t AS (
      SELECT vec_id, label, {_E} AS e, {_SQL_Q} AS q FROM embeddings
      WHERE embedding IS NOT NULL
    ), h AS (
      SELECT vec_id, label, e, q,
             CAST(list_sum(list_transform(range(1, {DIM + 1}),
               i -> CASE WHEN (e[i] > 0) != (q[i] > 0) THEN 1 ELSE 0 END))
               AS BIGINT) AS hamming
      FROM t
    ), coarse AS (
      SELECT vec_id, label, e, q, hamming,
             ROW_NUMBER() OVER (ORDER BY hamming, vec_id) AS crn
      FROM h
    )
    SELECT vec_id, label, hamming,
           ROUND({_sql_sq_l2("e", "q")}, 4) AS distance
    FROM coarse WHERE crn <= 50
    ORDER BY {_sql_sq_l2("e", "q")}, vec_id LIMIT 10
    """,
)
def knn_binary_rerank(spark, sf_dir):
    """Two-stage search through binary quantization (datavec
    binary_quantize sql:720-735 + bit Hamming `<~>`): stage 1 ranks by
    Hamming distance between sign bits — at 100 TB the bit codes are
    32x smaller than fp32 so the coarse pass reads 1/32nd of the bytes
    (and the codes can live in memory); stage 2 exactly reranks only the
    top-50 coarse survivors with true L2. Both stages deterministic
    (vec_id tie-break); the oracle replays the identical pipeline."""
    emb = table(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    e = F.expr(_SPARK_E)
    q = _spark_qlit()
    hamming = F.aggregate(
        F.zip_with(
            e,
            q,
            lambda x, y: F.when((x > 0) != (y > 0), F.lit(1)).otherwise(
                F.lit(0)
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    # bounded-heap top-50 (TakeOrderedAndProject), NOT a global-window
    # row_number — a single-partition window would serialize the scan at
    # scale, the per-partition heap merge does not
    coarse = (
        emb.withColumn("hamming", hamming.cast("bigint"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id").asc())
        .limit(50)
    )
    d = l2_distance(_SPARK_E, _SPARK_Q)
    return (
        coarse.withColumn("_d", d)
        .orderBy(F.col("_d").asc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "label", "hamming", F.round("_d", 4).alias("distance"))
    )


ivf_filtered_full = _index_gate(
    "ivf_filtered_full",
    f"""
    WITH t AS (
      SELECT vec_id, label, {_E} AS e, {_SQL_Q} AS q FROM embeddings
      WHERE embedding IS NOT NULL AND label % 5 = 2
    )
    SELECT vec_id, label,
           ROUND({_SQL_L2}, 4) AS distance
    FROM t ORDER BY {_SQL_L2}, vec_id LIMIT 10
    """,
    "ivfflat", where="label % 5 = 2", cached=True,
    doc="""Filtered ANN through the IVF index path
    (t/009_ivfflat_filtering.pl) at probes = lists, where the probed
    search is exact by construction: the label predicate is applied
    inside the pruned scan before the top-k heap (IvfIndex.search
    `where`), and the DuckDB brute-force filtered top-k oracle checks
    the whole route. At production probes the same plan reads
    probes/lists of the corpus, filter included.""",
)


_PQ_BOOKS: dict = {}


def _pq_books(spark, sf_dir):
    """PQ codebooks are CREATE INDEX-time artifacts: fit once per
    sf_dir and persist NEXT TO the IVF×PQ layout (same index_root, so
    a shared/remote root keeps the codebooks consistent with the codes
    they encoded — a second driver finding the layout's _SUCCESS must
    load THESE books, never re-fit its own). Stored as a tiny parquet
    of (m, k, centroid) rows written by Spark, so any filesystem the
    layout lives on works."""
    import hashlib
    import os

    import numpy as np

    from .pq import PqCodebooks

    if sf_dir in _PQ_BOOKS:
        return _PQ_BOOKS[sf_dir]
    key = hashlib.md5(f"{sf_dir}|pq-v1".encode()).hexdigest()[:10]
    path = os.path.join(index_root(spark), f"pq_books_{key}")
    if _layout_exists(spark, path + "/_SUCCESS"):
        rows = spark.read.parquet(path).collect()
        m = max(r.m for r in rows) + 1
        k = max(r.k for r in rows) + 1
        sub = len(rows[0].centroid)
        arr = np.zeros((m, k, sub))
        for r in rows:
            arr[r.m, r.k] = r.centroid
        books = PqCodebooks(arr)
    else:
        emb = table(spark, sf_dir, "embeddings").filter(
            F.col("embedding").isNotNull()
        )
        books = PqCodebooks.fit(emb, "embedding", m=16, k=16)
        rows = [
            (mi, ki, [float(x) for x in books.codebooks[mi, ki]])
            for mi in range(books.m)
            for ki in range(books.k)
        ]
        (
            spark.createDataFrame(
                rows, "m INT, k INT, centroid ARRAY<DOUBLE>"
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
    _PQ_BOOKS[sf_dir] = books
    return books


def _ivf_pq_layout(spark, sf_dir) -> str:
    """The ingest-time IVF×PQ layout: the IVF data re-written with a
    pq_codes column (encode_udf at write time), partitioned by list_id.
    Built once per sf_dir; queries read codes as plain parquet columns."""
    import hashlib
    import os

    key = hashlib.md5(f"{sf_dir}|ivfpq-v1".encode()).hexdigest()[:10]
    path = os.path.join(index_root(spark), f"ivfpq_embeddings_{key}")
    marker = path + "/_SUCCESS"
    if not _layout_exists(spark, marker):
        idx = _ivf_index(spark, sf_dir)
        books = _pq_books(spark, sf_dir)
        (
            idx.data(spark)
            .withColumn("pq_codes", books.encode_udf()(F.col("embedding")))
            .repartition("list_id")
            .write.mode("overwrite")
            .partitionBy("list_id")
            .parquet(path)
        )
    return path


@query(
    "ivf_pq_search",
    """
    SELECT CAST(LEAST(10, COUNT(*)) AS BIGINT) AS n_results,
           TRUE AS distances_exact,
           TRUE AS recall_ok
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def ivf_pq_search(spark, sf_dir):
    """IVF + PQ composed — the shape a 100 TB ANN corpus actually runs:
    partition pruning cuts the scan to probes/lists of the data, the
    coarse stage reads ONLY the 8-byte PQ codes of those partitions
    (ADC lookup fold, JVM-side, codes stored in the layout at ingest —
    a pure column-pruned parquet read), and the top-100 shortlist
    exact-reranks against float vectors to k=10. Total bytes touched ≈
    (probes/lists) × (1/32) of a flat float scan before the tiny rerank.

    Gated contract is the SQL-pinnable property set (the
    ivf_search_probed convention): exactly k rows, reported distances
    equal true L2 recomputed from the base table, and recall@10 ≥ 0.3
    vs the exact scan on the near-uniform synthetic embeddings (pytest
    holds the reference's per-probe thresholds on clusterable data)."""
    from ..catalog import parquet_handle
    from .pq import pq_search

    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    idx = _ivf_index(spark, sf_dir)
    books = _pq_books(spark, sf_dir)
    layout = _ivf_pq_layout(spark, sf_dir)
    lists = idx._probe_lists(spark, QUERY_VEC, probes=8)
    pruned = parquet_handle(spark, layout).filter(
        F.col("list_id").isin(lists)
    )
    # dedup (spill lists can repeat a vector) on (vec_id, codes) ONLY —
    # the r12 shape dragged the float embedding through this shuffle;
    # the rerank side re-reads the pruned scan and dedups its ≤100-row
    # join result instead (guide §2.3 — shuffle fewer bytes; the codes
    # row is ~30× narrower than the float vector)
    codes = pruned.select("vec_id", "pq_codes").dropDuplicates(["vec_id"])
    got = pq_search(
        codes, books, QUERY_VEC, k=10, rerank=100, vectors=pruned
    ).select("vec_id", "distance")
    truth = emb.select(
        "vec_id",
        l2_distance(_SPARK_E, _SPARK_Q).alias("_td"),
    )
    exact10 = truth.orderBy(F.col("_td").asc(), F.col("vec_id").asc()).limit(10)
    checked = got.join(truth, "vec_id").join(
        exact10.select("vec_id", F.lit(1).alias("_hit")), "vec_id", "left"
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_results"),
        (F.max(F.abs(F.col("distance") - F.col("_td"))) < 1e-9).alias(
            "distances_exact"
        ),
        (F.sum(F.coalesce(F.col("_hit"), F.lit(0))) >= 3).alias("recall_ok"),
    )


@query(
    "embedding_norm_outliers",
    f"""
    WITH n AS (
      SELECT vec_id, label,
             list_max(list_transform(e, x -> abs(x))) AS spike
      FROM (SELECT vec_id, label, {_E} AS e FROM embeddings
            WHERE embedding IS NOT NULL)
    ), stats AS (
      SELECT COUNT(*) AS cnt,
             CAST(SUM(CAST(spike AS DECIMAL(18,8))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(spike * spike AS DECIMAL(28,12))) AS DOUBLE) AS s2
      FROM n
    )
    SELECT vec_id, label, ROUND(spike, 4) AS spike,
           ROUND((spike - s1 / cnt)
                 / sqrt(s2 / cnt - (s1 / cnt) * (s1 / cnt)), 4) AS z
    FROM n CROSS JOIN stats
    WHERE abs((spike - s1 / cnt)
              / sqrt(s2 / cnt - (s1 / cnt) * (s1 / cnt))) > 2.0
    ORDER BY vec_id
    """,
)
def embedding_norm_outliers(spark, sf_dir):
    """Embedding QC: vectors whose peak component deviates > 2 sigma
    from the corpus mean — spiky dimensions signal encoder faults or
    corrupted rows (the norm itself is uninformative on L2-normalized
    embeddings like these: every norm is exactly 1). One scan + a
    one-row moment aggregate re-entering via broadcast (the fts_bm25
    shape); sums go through exact decimal so the z-scores are
    shuffle-order independent. 22 outliers at sf0.01."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    e = F.expr(_SPARK_E)
    spike = F.array_max(F.transform(e, lambda x: F.abs(x)))
    n = emb.select("vec_id", "label", spike.alias("spike"))
    stats = n.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("spike").cast("decimal(18,8)")).cast("double").alias("s1"),
        F.sum((F.col("spike") * F.col("spike")).cast("decimal(28,12)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("cnt")
    z = (F.col("spike") - mean) / F.sqrt(
        F.col("s2") / F.col("cnt") - mean * mean
    )
    return (
        n.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) > 2.0)
        .select(
            "vec_id",
            "label",
            F.round("spike", 4).alias("spike"),
            F.round(z, 4).alias("z"),
        )
        .orderBy("vec_id")
    )


ivf_append_then_search = _index_gate(
    "ivf_append_then_search", _knn_oracle(_SQL_L2), "ivfflat",
    hold_out="vec_id % 5 = 0",
    doc="""Online index maintenance, gated end-to-end (ivfinsert/ivfvacuum
    analogue — SURVEY §2.8 maintenance row): build the IVF index on 80%
    of the corpus, APPEND the held-out 20% through the insert path
    (labels new vectors with the EXISTING centroids, appends partition
    files — exactly what ivfinsert does to a list page), COMPACT the
    per-append small files, then search at probes=lists. At full probes
    the probed search is exact by construction, so the DuckDB flat-scan
    top-10 over the WHOLE table hash-checks the entire maintenance
    path: a lost or double-counted appended row changes the result.""",
)


ann_route_topk = _index_gate(
    "ann_route_topk", _knn_oracle(_SQL_L2), "ivfflat", cached=True,
    doc="""Query-shape routing gated end-to-end (SURVEY §2.8 routing row;
    datavec--0.7.2.sql:353-403 FOR ORDER BY opclasses + ivfflat.cpp:72
    cost gate): an AnnCatalog with an index registered on
    (embeddings, embedding) must route the ORDER BY distance LIMIT k
    request through the probed IVF path — the query RAISES if the
    catalog would fall back to the exact scan — and at probes=lists the
    routed search is exact, so the flat-scan oracle hash-checks the
    routed plan's values. The metric-mismatch guard (an L2 index must
    not serve a cosine ORDER BY) is pinned in
    tests/test_plan_quality.py::test_ann_catalog_routes_to_ivf.""",
)


ivf_search_cosine_exhaustive = _index_gate(
    "ivf_search_cosine_exhaustive", _knn_oracle(_SQL_COSINE), "ivfflat",
    "cosine",
    doc="""Cosine-metric IVF search gated end-to-end (datavec's
    vector_cosine_ops opclass — the second of the three FOR ORDER BY
    operator classes; L2 and the probed path are gated separately).
    The cosine index normalizes its training sample and ranks probe
    centroids by cosine; at probes=lists the search is exact, so the
    brute-force cosine oracle hash-checks metric plumbing end to end.""",
)


ivf_search_ip_exhaustive = _index_gate(
    "ivf_search_ip_exhaustive", _knn_oracle(_SQL_NEG_IP), "ivfflat", "ip",
    doc="""Inner-product IVF search gated end-to-end — the third and last
    FOR ORDER BY opclass (vector_ip_ops; negative inner product so
    larger dot products rank first, the datavec index-order
    convention). Exact at probes=lists; brute-force -dot oracle.""",
)


hnsw_search_exhaustive = _index_gate(
    "hnsw_search_exhaustive", _knn_oracle(_SQL_L2), "hnsw",
    doc="""HNSW as a real index structure, gated end-to-end (hnswbuild.cpp /
    hnswutils.cpp:724,958,1207 / hnswscan.cpp — the second of datavec's
    two ANN access methods; until round 4 this engine covered the
    capability with exact+IVF only, SURVEY §2.8 substitute position).
    The Spark shape is a SHARDED graph: hash-split the corpus, build one
    graph per shard inside applyInPandas (the reference's parallel build
    workers), store adjacency as plain parquet partitioned by shard,
    search by fanning a beam per shard and merging with a global
    TakeOrdered. The layer-0 connectivity repair makes an unbounded beam
    (ef_search=None) visit every node, so this configuration is exact by
    construction and the flat-scan oracle hash-checks build + storage +
    descent + merge end to end; ef_search=40 recall bars at the
    reference's t/012 thresholds live in tests/test_hnsw_recall.py.
    Displayed distances recompute through the JVM fold kernel (topk's
    join-back) so the rounding matches the oracle's list_sum fold
    order.""",
)


hnsw_search_l1_exhaustive = _index_gate(
    "hnsw_search_l1_exhaustive", _knn_oracle(_SQL_L1), "hnsw", "l1",
    doc="""The vector_l1_ops opclass through HNSW (datavec--0.7.2.sql:
    362-403): L1 is an HNSW-ONLY FOR ORDER BY class in the reference —
    IVFFlat declares l2/ip/cosine but not L1 — so this query is the
    capability a reference user loses if the engine only ships IVF.
    Same exact-by-construction configuration as hnsw_search_exhaustive
    (unbounded beam over connectivity-repaired shards), Manhattan
    metric end to end; brute-force L1 oracle.""",
)


ivf_delete_then_search = _index_gate(
    "ivf_delete_then_search", _knn_oracle(_SQL_L2, "vec_id % 7 <> 0"),
    "ivfflat", delete="vec_id % 7 = 0",
    doc="""Vacuum / bulk-delete parity, gated end-to-end (`ivfvacuum.cpp`
    IvfflatBulkDeleteScan, `hnswvacuum.cpp` — with append this
    completes the index maintenance triple append/vacuum/rebuild):
    build the IVF index on the full corpus, vacuum-delete every
    vec_id % 7 == 0 row through the crash-safe staged-rename rewrite,
    then search at probes=lists. Exact by construction at full probes,
    so the oracle — a flat scan EXCLUDING the deleted rows — detects a
    ghost (deleted row still served) or an over-delete equally: either
    changes the top-10 hash.""",
)


# three deterministic query vectors for the HNSW batch join gate
_QVECS_HNSW = [
    QUERY_VEC,
    [round(math.cos(i + 1.0), 4) for i in range(DIM)],
    [round(math.sin(2.0 * i + 1.0), 4) for i in range(DIM)],
]
_SQL_QVECS = ", ".join(
    f"({j}, [" + ", ".join(repr(v) for v in q) + "])"
    for j, q in enumerate(_QVECS_HNSW)
)


@query(
    "hnsw_knn_join_exhaustive",
    f"""
    WITH q AS (
      SELECT * FROM (VALUES {_SQL_QVECS}) AS t(qid, qv)
    ), scored AS (
      SELECT q.qid, e.vec_id,
             sqrt(list_sum(list_transform(range(1, {DIM + 1}),
               i -> ({_E}[i] - qv[i]) * ({_E}[i] - qv[i])))) AS d
      FROM embeddings e CROSS JOIN q
      WHERE e.embedding IS NOT NULL
    ), r AS (
      SELECT qid, vec_id, d,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
      FROM scored
    )
    SELECT CAST(qid AS INT) AS qid, vec_id AS id, ROUND(d, 4) AS distance,
           CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 3 ORDER BY qid, rn
    """,
)
def hnsw_knn_join_exhaustive(spark, sf_dir):
    """Batch k-NN through the HNSW index (the offline join shape —
    hnswscan.cpp amgettuple driven once per query): the whole query
    batch runs through every shard graph in ONE applyInPandas pass,
    per-(query, shard) beams merge via a window top-k. Unbounded beam
    ⇒ exact (connectivity-repaired layer 0), so the brute-force
    window oracle hash-checks the batch path end to end. Displayed
    distances recompute through the JVM fold kernel to match the
    oracle's list_sum fold order."""
    from .hnsw import HnswIndex

    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    with _scratch_dir(spark, "hnsw_join_gate_") as tmp:
        idx = HnswIndex.build(
            emb, "embedding", tmp, id_col="vec_id", metric="l2", shards=4
        )
        got = idx.search_batch(spark, _QVECS_HNSW, k=3, ef_search=None)
        pairs = [(r.qid, r.id, r.rn) for r in got.collect()]
        hits = spark.createDataFrame(
            pairs, "qid INT, id BIGINT, rn INT"
        )
        qlits = (
            "map_from_arrays(array("
            + ",".join(str(j) for j in range(len(_QVECS_HNSW)))
            + "), array(" + ",".join(dlit_sql(q) for q in _QVECS_HNSW)
            + "))"
        )
        out = (
            hits.join(emb, hits.id == emb.vec_id)
            .withColumn(
                "distance",
                F.round(
                    l2_distance(_SPARK_E, f"element_at({qlits}, qid)"),
                    4,
                ),
            )
            .select("qid", "id", "distance", "rn")
            .orderBy("qid", "rn")
        )
        return spark.createDataFrame(
            out.collect(), "qid INT, id BIGINT, distance DOUBLE, rn INT"
        )


ivf_search_halfvec_exhaustive = _index_gate(
    "ivf_search_halfvec_exhaustive", _HALFVEC_ORACLE, "ivfflat",
    col="emb_h", project=_halfvec,
    doc="""IVFFlat over halfvec — the halfvec_l2_ops index opclass
    (`test/sql/ivfflat_halfvec.sql`; halfvec.h:55-70): the index is
    built on the fp16 ROUND-TRIPPED vectors (storage semantics: what
    the reference stores in halfvec pages is what k-means clusters and
    what distances rank), searched at probes=lists so the result is
    exact over the quantized values, and the oracle replays IEEE-754
    half rounding arithmetically (the knn_l2_halfvec quantizer,
    verified bit-identical to numpy float16). An engine that indexed
    the fp32 originals instead would rank by the wrong values and
    hash-mismatch.""",
)


hnsw_search_bit_exhaustive = _index_gate(
    "hnsw_search_bit_exhaustive", _HAMMING_ORACLE, "hnsw", "hamming",
    col="bits", project=_bit_words, out=("hamming", "BIGINT"),
    qvec=_QUERY_WORDS,
    doc="""HNSW over bit vectors — the bit_hamming_ops opclass
    (`test/sql/hnsw_bit.sql`; bitvec.cpp / datavec--0.7.2.sql:720-735),
    completing the index×type matrix: the graph is built directly on
    the binary_quantize'd word representation with XOR-popcount as the
    construction AND search metric, exhaustive beam ⇒ exact, and the
    oracle ranks by the same packed-word popcount arithmetic. Hamming
    ties are dense (integer distances over 64 bits), so the (distance,
    vec_id) total order both engines share is what makes the top-10
    hash-stable.""",
)


hnsw_search_halfvec_exhaustive = _index_gate(
    "hnsw_search_halfvec_exhaustive", _HALFVEC_ORACLE, "hnsw",
    col="emb_h", project=_halfvec,
    doc="""HNSW over halfvec — halfvec_l2_ops through the graph access
    method (`test/sql/hnsw_halfvec.sql`): graph built on the fp16
    round-tripped vectors, exhaustive beam ⇒ exact over the quantized
    values, oracle replays IEEE-754 half rounding (the knn_l2_halfvec
    quantizer). With bit (hamming) and the four float opclasses this
    completes HNSW's indexable-type matrix.""",
)


hnsw_search_sparsevec_exhaustive = _index_gate(
    "hnsw_search_sparsevec_exhaustive",
    f"""
    WITH s AS (
      SELECT vec_id, label,
             list_transform({_E},
               x -> CASE WHEN abs(x) > {_SPARSE_T} THEN x ELSE 0.0 END) AS e,
             {_SQL_Q} AS q
      FROM embeddings WHERE embedding IS NOT NULL
    ), scored AS (
      SELECT vec_id, label, {_SQL_NEG_IP} AS d FROM s
    )
    SELECT vec_id, label, ROUND(d, 4) AS distance
    FROM scored ORDER BY d, vec_id LIMIT 10
    """,
    "hnsw", "ip", col="emb_s", project=_sparsified,
    doc="""HNSW over sparsevec — sparsevec_ip_ops through the graph access
    method (`test/sql/hnsw_sparsevec.sql`; sparsevec.h:44-55): vectors
    are threshold-sparsified (the sparsevec_dot_topk representation),
    the graph ranks by negative inner product over the sparse values,
    exhaustive beam ⇒ exact. The graph layout stores the zero-filled
    dense form (64-d here; a production sparse corpus would carry
    indices+values pairs into the shard task instead — same plumbing,
    different codec), while the ORACLE computes on the sparsified
    values directly, so densification errors would hash-mismatch.""",
)


ivf_search_bit_exhaustive = _index_gate(
    "ivf_search_bit_exhaustive", _HAMMING_ORACLE, "ivfflat", "hamming",
    col="bits", project=_bit_words, out=("hamming", "BIGINT"),
    qvec=_QUERY_WORDS,
    doc="""IVFFlat over bit vectors — bit_hamming_ops through the inverted
    lists (`test/sql/ivfflat_bit.sql`), the LAST cell of the reference's
    index×type matrix: k-means runs in the relaxed 0/1-per-bit space,
    centers binarize back to packed words (each list centroid is itself
    a bit vector), and labeling/probe-ranking/scan are pure XOR-popcount
    integer kernels — no float cast anywhere in the path. Exact at
    probes=lists; the packed-word popcount oracle hash-checks it.""",
)


hnsw_filtered_search = _index_gate(
    "hnsw_filtered_search", _knn_oracle(_SQL_L2, "label = 3"), "hnsw",
    where="label = 3",
    doc="""Filtered ANN through HNSW (t/017_hnsw_filtering.pl): the 0.7.x
    reference post-filters beam candidates against the quals and tells
    users to raise ef_search for selective predicates;
    HnswIndex.search_filtered is the same contract (over-fetch → join
    back → filter → top-k). Gated at the exhaustive operating point,
    where every shard returns its full ranking and the post-filter is
    exact at ANY selectivity (label = 3 keeps ~12% of rows) — the
    WHERE-inside flat-scan oracle hash-checks it. Bounded-ef recall
    behavior is pinned in tests/test_hnsw_recall.py.""",
)


hnsw_delete_then_search = _index_gate(
    "hnsw_delete_then_search", _knn_oracle(_SQL_L2, "vec_id % 7 <> 0"),
    "hnsw", delete="id % 7 = 0",
    doc="""HNSW vacuum gated end-to-end (hnswvacuum.cpp: dead tuples leave
    every neighbor list, the entry moves if it died, connectivity is
    repaired): build on the full corpus, vacuum-delete vec_id % 7 == 0
    through the per-shard unlink pass, search with the unbounded beam.
    Exact by construction over the survivors, so the flat-scan-minus-
    deleted oracle catches ghosts, over-deletes, AND dangling-edge
    breakage (a node reachable only through a deleted neighbor would
    vanish from the exhaustive beam and change the top-10).""",
)


# Four deterministic query "token" vectors for the late-interaction
# (MaxSim) query — same literals in Spark and the oracle.
MV_QUERIES = [
    [round(math.sin(i + 1.0 + 0.25 * j), 4) for i in range(DIM)]
    for j in range(4)
]

_SQL_MV_VALUES = ", ".join(
    "(" + str(j) + ", ["
    + ", ".join(repr(v) for v in q)
    + "]::DOUBLE[])"
    for j, q in enumerate(MV_QUERIES)
)


@query(
    "knn_maxsim_multivector",
    f"""
    WITH q(qid, qv) AS (VALUES {_SQL_MV_VALUES}),
    scored AS (
      SELECT vec_id // 8 AS g, qid,
             max({_sql_dot('CAST(embedding AS DOUBLE[])', 'qv')}) AS best
      FROM embeddings CROSS JOIN q
      GROUP BY g, qid
    )
    SELECT g,
           ROUND(CAST(SUM(CAST(best AS DECIMAL(18,6))) AS DOUBLE), 4)
               AS maxsim
    FROM scored GROUP BY g
    ORDER BY maxsim DESC, g LIMIT 10
    """,
)
def knn_maxsim_multivector(spark, sf_dir):
    """Late-interaction multi-vector retrieval (MaxSim): score a
    document-group of vectors against a multi-token query as
    sum over query tokens of the max dot product over the group's
    vectors — ColBERT's scoring rule (Khattab & Zaharia, SIGIR 2020).
    ADDITIVE beyond the reference (datavec is single-vector-per-row;
    README.md:9 lists no multi-vector operator) — this is what an LLM
    retrieval pipeline layers on top of the same embedding table.

    Scale shape: the query side is 4 rows and broadcast by AQE (bounded
    by construction — query token count, never data size); dot products
    are JVM-side zip_with folds inside whole-stage codegen; the two
    groupBys reduce on (group, qid) then (group) — partial aggregation
    makes the shuffle carry one row per group×4, not per vector. Top-k
    is a TakeOrdered heap. Vector groups here are vec_id div 8; a real
    corpus would carry its own doc_id for the passage→token-vector
    mapping."""
    emb = table(spark, sf_dir, "embeddings")
    q = spark.createDataFrame(
        [(j, qv) for j, qv in enumerate(MV_QUERIES)],
        "qid INT, qv ARRAY<DOUBLE>",
    )
    scored = (
        emb.selectExpr("vec_id div 8 AS g", f"{_SPARK_E} AS e")
        .crossJoin(F.broadcast(q))
        .groupBy("g", "qid")
        .agg(F.max(dot_product("e", "qv")).alias("best"))
    )
    return (
        scored.groupBy("g")
        .agg(
            F.round(
                F.sum(F.col("best").cast("decimal(18,6)")).cast("double"), 4
            ).alias("maxsim")
        )
        .orderBy(F.desc("maxsim"), "g")
        .limit(10)
    )


_SUB_D = 16      # coarse prefix dims (subvector(embedding, 1, 16))
_COARSE_K = 50   # coarse candidate pool for the full-dim rerank


def _sql_sq_l2_dims(a: str, b: str, dims: int) -> str:
    return (
        f"sqrt(list_sum(list_transform(range(1, {dims + 1}),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))))"
    )


@query(
    "knn_subvector_rerank",
    f"""
    WITH coarse AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
      ORDER BY {_sql_sq_l2_dims('CAST(embedding AS DOUBLE[])',
                                _SQL_Q, _SUB_D)}, vec_id
      LIMIT {_COARSE_K}
    )
    SELECT vec_id, label,
           ROUND({_sql_sq_l2_dims('e', _SQL_Q, DIM)}, 4) AS distance
    FROM coarse
    ORDER BY ROUND({_sql_sq_l2_dims('e', _SQL_Q, DIM)}, 4), vec_id
    LIMIT 10
    """,
)
def knn_subvector_rerank(spark, sf_dir):
    """Adaptive retrieval over prefix subvectors: coarse top-{_COARSE_K}
    on the FIRST {_SUB_D} dimensions (``subvector(embedding, 1, 16)`` —
    datavec--0.7.2.sql:58, vector.cpp:973), exact full-dimension rerank
    of the survivors — the truncate-then-rerank pattern Matryoshka
    representation learning trains embeddings for (Kusupati et al.,
    NeurIPS 2022; pgvector documents the same recipe for halfvec
    subvector indexes, datavec--0.7.2.sql:458).

    Scale shape: the coarse pass reads ONLY a 16-float prefix per row
    (a 4x byte cut on the distance loop; with a subvector column
    materialized at ingest the parquet scan itself shrinks 4x) and
    feeds a TakeOrdered heap — no shuffle of full vectors; the rerank
    touches {_COARSE_K} rows. Ties broken by vec_id in both stages so
    the two engines pick identical frontiers."""
    emb = table(spark, sf_dir, "embeddings")
    coarse_d = l2_distance(
        f"slice({_SPARK_E}, 1, {_SUB_D})", f"slice({_SPARK_Q}, 1, {_SUB_D})"
    )
    coarse = (
        emb.select("vec_id", "label", F.expr(_SPARK_E).alias("e"),
                   coarse_d.alias("_cd"))
        .orderBy("_cd", "vec_id")
        .limit(_COARSE_K)
    )
    full_d = F.round(l2_distance("e", _SPARK_Q), 4)
    return (
        coarse.select("vec_id", "label", full_d.alias("distance"))
        .orderBy("distance", "vec_id")
        .limit(10)
    )


_RRF_K = 60      # the standard reciprocal-rank-fusion constant
_RRF_POOL = 50   # per-modality candidate pool
_RRF_TOP = 20


def _rrf_oracle_sql() -> str:
    from ..operators.text import _BM25_TERMS, _bm25_oracle_sql

    bm25 = _bm25_oracle_sql(_BM25_TERMS, limit=_RRF_POOL)
    return f"""
    WITH bm25_top AS ({bm25}),
    trank AS (
      SELECT doc_id AS id,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rt
      FROM bm25_top
    ), vtop AS (
      SELECT vec_id AS id,
             1.0 - ({_sql_dot(_E, _SQL_Q)})
               / (({_sql_norm(_E)}) * ({_sql_norm(_SQL_Q)})) AS dist
      FROM embeddings
      ORDER BY dist, vec_id LIMIT {_RRF_POOL}
    ), vrank AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY dist, id) AS rv FROM vtop
    )
    SELECT coalesce(t.id, v.id) AS id,
           ROUND(coalesce(1.0 / ({_RRF_K} + t.rt), 0)
                 + coalesce(1.0 / ({_RRF_K} + v.rv), 0), 6) AS rrf,
           CAST(t.rt AS INT) AS text_rank,
           CAST(v.rv AS INT) AS vec_rank
    FROM trank t FULL OUTER JOIN vrank v ON t.id = v.id
    ORDER BY rrf DESC, id LIMIT {_RRF_TOP}
    """


@query("hybrid_rrf_search", _rrf_oracle_sql())
def hybrid_rrf_search(spark, sf_dir):
    """Hybrid lexical+vector retrieval fused with reciprocal rank
    fusion (Cormack et al., SIGIR 2009: score = Σ 1/(k + rank),
    k=60) — the standard production recipe over exactly the two
    capabilities the reference ships side by side (tsvector ranking +
    datavec ANN; its docs leave fusion to the caller, so this is the
    packaged form a retrieval user actually runs). The text arm is the
    two-scan BM25 core; the vector arm is a cosine TakeOrdered heap;
    both pools are {_RRF_POOL} candidates, fused with a full outer join
    on the id and reranked by the fused score.

    Scale shape: each arm is independently scale-correct (documented on
    its own gate); the fusion join touches 2×{_RRF_POOL} rows — driver-
    trivial at any corpus size. Ranks are assigned over the LIMITed
    pools with deterministic tie-breaks, so rank arithmetic is
    integer-exact in both engines. (Spark warns about the
    unpartitioned ROW_NUMBER windows — intentional: their input is the
    already-LIMITed 50-row pool, not a data-sized relation.)"""
    from pyspark.sql import Window as W

    from ..operators.text import _BM25_TERMS, bm25_rank

    d = table(spark, sf_dir, "documents")
    tpool = bm25_rank(d, _BM25_TERMS, limit=_RRF_POOL)
    trank = tpool.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("rt"),
    )
    emb = table(spark, sf_dir, "embeddings")
    vpool = (
        emb.select(
            F.col("vec_id").alias("id"),
            cosine_distance(_SPARK_E, _SPARK_Q).alias("dist"),
        )
        .orderBy("dist", "id")
        .limit(_RRF_POOL)
    )
    vrank = vpool.select(
        "id",
        F.row_number().over(W.orderBy(F.asc("dist"), F.asc("id"))).alias("rv"),
    )
    rrf = F.round(
        F.coalesce(1.0 / (_RRF_K + F.col("rt")), F.lit(0.0))
        + F.coalesce(1.0 / (_RRF_K + F.col("rv")), F.lit(0.0)),
        6,
    )
    return (
        trank.join(vrank, "id", "full_outer")
        .select(
            "id",
            rrf.alias("rrf"),
            F.col("rt").cast("int").alias("text_rank"),
            F.col("rv").cast("int").alias("vec_rank"),
        )
        .orderBy(F.desc("rrf"), "id")
        .limit(_RRF_TOP)
    )


# --- SemDeDup: semantic dedup within embedding clusters -------------------

_SEMDEDUP_TAU = 0.65  # cos-distance threshold; calibrated non-vacuous
                      # (26 of ~1.1k sf0.01 vectors drop; nearest
                      # within-label pair sits at 0.525)


@query(
    "semdedup_keep",
    f"""
    WITH v AS (SELECT vec_id, label, {_E} AS e FROM embeddings
               WHERE embedding IS NOT NULL)
    SELECT b.label, b.vec_id AS dropped_id,
           MIN(a.vec_id) AS keeper_id
    FROM v a JOIN v b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE 1.0 - {_sql_dot('a.e', 'b.e')}
          / ({_sql_norm('a.e')} * {_sql_norm('b.e')}) < {_SEMDEDUP_TAU}
    GROUP BY b.label, b.vec_id
    ORDER BY b.label, dropped_id
    """,
)
def semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pruning computed WITHIN embedding clusters only —
    pairwise cosine against cluster peers, drop every vector that has a
    lower-id peer closer than tau, keep the lowest id as the canonical
    representative.  The cluster key here is the corpus `label` column;
    at scale it is the IVF `list_id` the ingest layout already
    materializes (`vector/ivf.py`), which is exactly the published
    algorithm: k-means first so the quadratic pair step is bounded by
    cluster size (n/k)**2 per cluster, never corpus x corpus.

    Scale shape: one shuffle co-partitioning both sides on the cluster
    key, pair generation and the dot-product fold stay inside
    whole-stage codegen, then a short-key groupBy for the canonical
    keeper.  No broadcast of the corpus, no driver collect.

    Reference: no analogue (the reference's dedup surface is exact
    unique-index only) — LLM-pipeline extension per BASELINE.json.
    """
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull())
    # norms are precomputed PER VECTOR (n rows), not per pair — for a
    # cluster of size m that removes 2·(m-1) redundant 64-element folds
    # per vector from the quadratic stage, leaving only the dot product
    # pairwise (measured 16 s → ~6 s at sf0.1). The arithmetic is the
    # same expression the oracle spells (1 - dot/(na*nb)), so values
    # stay bit-identical.
    from .distance import l2_norm

    v = emb.selectExpr("vec_id", "label", f"{_SPARK_E} AS e")
    v = v.withColumn("n", l2_norm("e", dim=DIM))
    a = v.select(F.col("vec_id").alias("a_id"), F.col("label").alias("a_label"),
                 F.col("e").alias("a_e"), F.col("n").alias("a_n"))
    b = v.select(F.col("vec_id").alias("b_id"), F.col("label").alias("b_label"),
                 F.col("e").alias("b_e"), F.col("n").alias("b_n"))
    denom = F.col("a_n") * F.col("b_n")
    cos_dist = F.when(denom == 0.0, F.lit(float("nan"))).otherwise(
        F.lit(1.0) - dot_product("a_e", "b_e", dim=DIM) / denom
    )
    pairs = a.join(
        b,
        (F.col("a_label") == F.col("b_label"))
        & (F.col("a_id") < F.col("b_id")),
    ).filter(cos_dist < _SEMDEDUP_TAU)
    return (
        pairs.groupBy(F.col("b_label").alias("label"),
                      F.col("b_id").alias("dropped_id"))
        .agg(F.min("a_id").alias("keeper_id"))
        .orderBy("label", "dropped_id")
    )
