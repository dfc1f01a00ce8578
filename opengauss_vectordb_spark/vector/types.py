"""Vector type representations beyond plain float32 arrays — the datavec
type family (SURVEY.md §1.3):

  halfvec(n)  — fp16 storage semantics (`contrib/datavec/src/halfvec.h:
                55-70`): values round-trip through IEEE half precision.
                Represented as ARRAY<FLOAT> whose values have been
                quantized; the quantizer is a vectorized Arrow batch op.
  sparsevec(n)— int32 indices + fp32 values (`sparsevec.h:44-55`).
                Represented as STRUCT<dim INT, indices ARRAY<INT>,
                values ARRAY<FLOAT>> with 0-based sorted indices.
  bit(n)      — binary vectors packed little-endian into ARRAY<BIGINT>
                64-bit words (`vector.h` bit ops; distances in
                distance.py hamming_distance/jaccard_distance).

Casts between the representations mirror datavec's declared casts
(`datavec--0.7.2.sql:152-167,558-580`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------- halfvec

try:  # Arrow-vectorized fp16 quantizer (the only non-codegen op here —
    # it is a storage cast, not a query-path expression)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<float>")
    def halfvec_quantize(v: "pd.Series") -> "pd.Series":
        import numpy as np

        return v.map(
            lambda a: None
            if a is None
            else np.asarray(a, dtype=np.float32).astype(np.float16).astype(
                np.float32
            ).tolist()
        )

except ImportError:  # pragma: no cover
    halfvec_quantize = None


# -------------------------------------------------------------- sparsevec

SPARSEVEC_TYPE = T.StructType(
    [
        T.StructField("dim", T.IntegerType()),
        T.StructField("indices", T.ArrayType(T.IntegerType())),
        T.StructField("values", T.ArrayType(T.FloatType())),
    ]
)


def to_sparsevec(dense: Column, value_type: str = "float") -> Column:
    """dense array → sparsevec struct (cast vector→sparsevec,
    sql:558-580): keep nonzero entries with their 0-based positions.
    Pure expressions — filter/transform stay JVM-side. value_type="double"
    keeps full precision for arithmetic-parity paths (storage uses the
    reference's fp32)."""
    indexed = F.arrays_zip(
        F.sequence(F.lit(0), F.size(dense) - 1).alias("i"), dense.alias("x")
    )
    nz = F.filter(indexed, lambda e: e.getField("x") != 0)
    return F.struct(
        F.size(dense).cast("int").alias("dim"),
        F.transform(nz, lambda e: e.getField("i").cast("int")).alias("indices"),
        F.transform(nz, lambda e: e.getField("x").cast(value_type)).alias("values"),
    )


def sparsevec_to_dense(sv: Column) -> Column:
    """sparsevec → dense array (cast sparsevec→vector)."""
    return F.transform(
        F.sequence(F.lit(0), sv.getField("dim") - 1),
        lambda i: F.coalesce(
            F.element_at(
                F.map_from_arrays(sv.getField("indices"), sv.getField("values")), i
            ),
            F.lit(0.0).cast("float"),
        ),
    )


def sparse_dot(a: Column, b: Column) -> Column:
    """Inner product of two sparsevecs via a shared-index map lookup —
    O(nnz) per row, no densification."""
    bmap = F.map_from_arrays(b.getField("indices"), b.getField("values"))
    prods = F.transform(
        F.arrays_zip(a.getField("indices").alias("i"), a.getField("values").alias("x")),
        lambda e: F.coalesce(F.element_at(bmap, e.getField("i")), F.lit(0.0))
        * e.getField("x"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sparse_l2_squared(a: Column, b: Column) -> Column:
    """||a-b||² = ||a||² + ||b||² - 2·a·b (sparse-friendly identity)."""
    norm2 = lambda s: F.aggregate(  # noqa: E731
        F.transform(s.getField("values"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return norm2(a) + norm2(b) - 2.0 * sparse_dot(a, b)


# ------------------------------------------------------------ bit vectors

def binary_quantize_sql(dense: str) -> str:
    """binary_quantize (sql:720-735 family) over the SQL-text array
    operand ``dense``: sign bits packed little-endian into 32-bit
    groups stored in BIGINT words — bit j of word w is set when element
    32w+j > 0. 32 bits/word keeps every value positive, so the packing
    is portable to engines with checked signed shifts. Output feeds
    hamming_distance/jaccard_distance as their SQL-text operand."""
    return (
        f"transform(sequence(0, CAST(ceil(size({dense}) / 32) AS INT) - 1),"
        " _w -> aggregate(sequence(0, 31), CAST(0 AS BIGINT),"
        " (_acc, _j) -> _acc + CASE WHEN"
        f" coalesce(element_at({dense}, _w * 32 + _j + 1), 0.0D) > 0"
        " THEN shiftleft(CAST(1 AS BIGINT), _j) ELSE CAST(0 AS BIGINT) END))"
    )


def binary_quantize_words(dense: str) -> Column:
    """The Column of ``binary_quantize_sql(dense)``, one parsed expr."""
    return F.expr(binary_quantize_sql(dense))


# ------------------------------------------------------------- text I/O
# vector_in / vector_out ('[1,2,3]' literals — contrib/datavec/src/
# vector.cpp vector_in/vector_out; exercised by the reference's COPY and
# vector_type golden tests). Pure Catalyst string expressions, so CSV
# ingest of vector columns runs JVM-side at full scan speed.


def vector_from_text(s: Column, dim: int | None = None) -> Column:
    """Parse a '[x,y,z]' text literal to array<float> (vector_in).

    With ``dim``, enforces the typmod the way vector_typmod_in does
    (vector.h:29): a literal of the wrong dimension yields NULL rather
    than a silently mis-shaped row (Spark expressions can't raise
    per-row; rejected rows are filterable as NULLs)."""
    arr = F.transform(
        F.split(F.regexp_replace(F.trim(s), r"^\[|\]$", ""), ","),
        lambda x: F.trim(x).cast("float"),
    )
    if dim is not None:
        arr = F.when(F.size(arr) == dim, arr)
    return arr


def vector_to_text(v: Column) -> Column:
    """Render array<float> as '[x,y,z]' (vector_out). Float→string uses
    the shortest round-tripping decimal form, so out∘in is lossless."""
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(v, lambda x: x.cast("string")), ","),
        F.lit("]"),
    )
