"""Vector distance functions as native Column expressions.

Capability parity with `contrib/datavec/src/vector.cpp` (reference:
`l2_distance` sql:172 / `<->`, `inner_product` sql:177 / `<#>` (returns the
NEGATIVE inner product for index ordering — we keep that convention),
`cosine_distance` sql:182 / `<=>`, `l1_distance` sql:187 / `<+>`) and
`contrib/datavec/src/bitutils.cpp` (`hamming_distance` sql:720,
`jaccard_distance` sql:723).

All expressions fold left over the array in index order with double
accumulation, so results are deterministic and reproducible across
engines and cluster runs. Everything stays inside Catalyst/Tungsten
codegen — there is no Python in the per-row path, which is what lets a
brute-force scan saturate 1000 executors at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """Cast array<float> → array<double> so accumulation is double IEEE."""
    return v.cast("array<double>")


def dlit_array(values) -> Column:
    """array<double> literal in ONE py4j round trip.

    ``F.array(*[F.lit(float(x)) ...])`` costs one py4j call per element
    (~0.3 ms each) — a 64-d query literal is ~65 calls and the 256-entry
    PQ lookup table was ~280, dominating plan BUILD time for the vector
    queries (guide §5; r12's construction finding).  One ``F.expr`` over
    the rendered literals parses JVM-side to the IDENTICAL CreateArray of
    double Literals (repr() is shortest round-trip, the same value the
    lit() path boxes), which ConstantFolding collapses to a single array
    Literal either way."""
    return F.expr(dlit_sql(values))


def dlit_sql(values) -> str:
    """SQL text of the array<double> literal ``dlit_array`` parses."""
    return "array(" + ",".join(repr(float(x)) + "D" for x in values) + ")"


def llit_sql(values) -> str:
    """SQL text of an array<bigint> literal, the integer counterpart
    of ``dlit_sql`` (the cast keeps -2^63 exact)."""
    return "array(" + ",".join(
        f"CAST({int(x)} AS BIGINT)" for x in values) + ")"


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of an array<double> (deterministic order)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


# --- dim-guarded unrolled kernels ------------------------------------------
# ``aggregate(zip_with(a, b, term))`` allocates an intermediate array per
# row-pair and walks it through two higher-order lambdas.  When the vector
# dimension is known at PLAN time (the engine's analogue of datavec's
# vector(N) typmod — e.g. the length of the query-vector literal), the
# same left-fold spells as a flat codegen expression
#   0.0 + term(a[0],b[0]) + term(a[1],b[1]) + ...
# with IDENTICAL double addition order (including the 0.0 seed, so signed
# zeros fold the same way).  A size() guard keeps the fold path for rows
# of any other length, so results are bit-identical for every input.
# Measured 2.4× faster on the semdedup pairwise stage
# (OPTIMIZATION_r12.md §distance-kernels).


def _unrolled_pair(a: Column, b: Column, n: int, term) -> Column:
    e = F.lit(0.0)
    for i in range(n):
        e = e + term(a[i], b[i])
    return e


def _pair_sum(a: Column, b: Column, term, dim: int | None) -> Column:
    fold = _fold_sum(F.zip_with(a, b, term))
    if dim is None:
        return fold
    return F.when(
        (F.size(a) == dim) & (F.size(b) == dim),
        _unrolled_pair(a, b, dim, term),
    ).otherwise(fold)


def l2_squared(a: Column, b: Column, dim: int | None = None) -> Column:
    return _pair_sum(a, b, lambda x, y: (x - y) * (x - y), dim)


def l2_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """`<->` — Euclidean (vector.cpp, sql:172)."""
    return F.sqrt(l2_squared(a, b, dim))


def dot_product(a: Column, b: Column, dim: int | None = None) -> Column:
    return _pair_sum(a, b, lambda x, y: x * y, dim)


def inner_product(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot_product(a, b, dim)


def neg_inner_product(
    a: Column, b: Column, dim: int | None = None
) -> Column:
    """`<#>` — negative inner product, the reference's index-ordering
    convention (contrib/datavec/README.md:88)."""
    return -dot_product(a, b, dim)


def l2_norm(a: Column, dim: int | None = None) -> Column:
    """vector_norm (vector.h:26-64 externs; sql:210-246)."""
    sq = _fold_sum(F.transform(a, lambda x: x * x))
    if dim is not None:
        sq = F.when(
            F.size(a) == dim,
            _unrolled_pair(a, a, dim, lambda x, y: x * y),
        ).otherwise(sq)
    return F.sqrt(sq)


def cosine_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """`<=>` — 1 - cos(a,b) (vector.cpp, sql:182).

    A zero vector yields NaN (as the reference's C division does), NOT
    NULL: Spark's non-ANSI 0/0 is NULL, which sorts FIRST under the
    default ascending order and would rank zero vectors at the top of
    every cosine kNN; NaN sorts last in both Spark and PG float order."""
    denom = l2_norm(a, dim) * l2_norm(b, dim)
    return F.when(denom == 0.0, F.lit(float("nan"))).otherwise(
        F.lit(1.0) - dot_product(a, b, dim) / denom
    )


def l1_distance(a: Column, b: Column, dim: int | None = None) -> Column:
    """`<+>` — Manhattan (vector.cpp, sql:187)."""
    return _pair_sum(a, b, lambda x, y: F.abs(x - y), dim)


# --- binary vectors: represented as array<bigint> of 64-bit words ---------

def hamming_distance(a: Column, b: Column) -> Column:
    """`<~>` over bit(n) (bitutils.cpp; sql:720,728): popcount(a XOR b).

    Binary vectors are packed little-endian into 64-bit words; XOR +
    bit_count per word keeps this a pure JVM integer kernel.
    """
    return _fold_sum(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("double"))
    ).cast("long")


def jaccard_distance(a: Column, b: Column) -> Column:
    """`<%>` over bit(n) (bitutils.cpp; sql:723,733): 1 - |a∧b| / |a∨b|."""
    inter = _fold_sum(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y)).cast("double"))
    )
    union = _fold_sum(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseOR(y)).cast("double"))
    )
    return F.when(union == 0, F.lit(0.0)).otherwise(F.lit(1.0) - inter / union)


DISTANCES = {
    "l2": l2_distance,
    "ip": neg_inner_product,
    "cosine": cosine_distance,
    "l1": l1_distance,
}
