"""Vector distance kernels, each defined once as one SQL expression.

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

SQL text is the one definition of every kernel. Each ``*_sql`` function
takes its operands as SQL text (a column name, ``CAST(embedding AS
ARRAY<DOUBLE>)``, ``dlit_sql(q)``, ``slice(...)``) and returns the
kernel's SQL text; the function of the same name without ``_sql``
parses that text into a Column with one ``F.expr``, one py4j round
trip. The same text is the body of the SQL functions ``l2_distance``,
``inner_product``, ``cosine_distance``, ``l1_distance`` and
``vector_norm`` (functions/pg_compat.py). Spelled through pyspark's
Python-lambda API (``F.aggregate(F.zip_with(...))``), one kernel cost
about 50 ms of round trips to build; the parsed text is the same
Catalyst tree. Operands appear only outside the kernels' lambda
bodies, whose variables are ``_x``, ``_y``, ``_acc`` and ``_v``.

``METRICS`` decides, per metric, how a column meets a query vector:
the column's operand cast (double for the float metrics, bigint words
for hamming), the query's literal and the kernel.  ``query_distance``
spells it for the exact scan, the IVF scan and the HNSW join-back.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: str) -> str:
    """SQL text of column ``col`` cast to array<double>, so accumulation
    is double IEEE."""
    return f"CAST(`{col}` AS ARRAY<DOUBLE>)"


def as_bigint(col: str) -> str:
    """SQL text of column ``col`` cast to array<bigint>: packed bit
    words stay integers, as the XOR kernels need."""
    return f"CAST(`{col}` AS ARRAY<BIGINT>)"


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


def _fold(arr: str) -> str:
    """Sequential left-fold sum of an array<double> (deterministic
    order), seeded with 0.0."""
    return f"aggregate({arr}, 0.0D, (_acc, _v) -> _acc + _v)"


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


def _sum_sql(a: str, b: str, term: str, dim: int | None) -> str:
    """sum over i of ``term`` (a template over ``{x}`` = a[i] and
    ``{y}`` = b[i]): the left fold over ``zip_with``, unrolled under a
    size guard when ``dim`` is given."""
    fold = _fold(f"zip_with({a}, {b}, (_x, _y) -> {term.format(x='_x', y='_y')})")
    if dim is None:
        return fold
    unrolled = " + ".join(["0.0D"] + [
        "(" + term.format(x=f"({a})[{i}]", y=f"({b})[{i}]") + ")"
        for i in range(dim)
    ])
    return (f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim} "
            f"THEN {unrolled} ELSE {fold} END")


_L2SQ = "({x} - {y}) * ({x} - {y})"
_PROD = "{x} * {y}"
_ABS_DIFF = "abs({x} - {y})"


def l2_squared_sql(a: str, b: str, dim: int | None = None) -> str:
    return _sum_sql(a, b, _L2SQ, dim)


def l2_distance_sql(a: str, b: str, dim: int | None = None) -> str:
    """`<->` — Euclidean (vector.cpp, sql:172)."""
    return f"sqrt({l2_squared_sql(a, b, dim)})"


def dot_product_sql(a: str, b: str, dim: int | None = None) -> str:
    return _sum_sql(a, b, _PROD, dim)


def neg_inner_product_sql(a: str, b: str, dim: int | None = None) -> str:
    """`<#>` — negative inner product, the reference's index-ordering
    convention (contrib/datavec/README.md:88)."""
    return f"-({dot_product_sql(a, b, dim)})"


def l2_norm_sql(a: str, dim: int | None = None) -> str:
    """vector_norm (vector.h:26-64 externs; sql:210-246)."""
    sq = _fold(f"transform({a}, _x -> _x * _x)")
    if dim is not None:
        unrolled = " + ".join(
            ["0.0D"] + [f"(({a})[{i}] * ({a})[{i}])" for i in range(dim)])
        sq = f"CASE WHEN size({a}) = {dim} THEN {unrolled} ELSE {sq} END"
    return f"sqrt({sq})"


def cosine_distance_sql(a: str, b: str, dim: int | None = None) -> str:
    """`<=>` — 1 - cos(a,b) (vector.cpp, sql:182).

    A zero vector yields NaN (as the reference's C division does), NOT
    NULL: Spark's non-ANSI 0/0 is NULL, which sorts FIRST under the
    default ascending order and would rank zero vectors at the top of
    every cosine kNN; NaN sorts last in both Spark and PG float order."""
    denom = f"{l2_norm_sql(a, dim)} * {l2_norm_sql(b, dim)}"
    return (f"CASE WHEN {denom} = 0.0D THEN CAST('NaN' AS DOUBLE) "
            f"ELSE 1.0D - {dot_product_sql(a, b, dim)} / ({denom}) END")


def l1_distance_sql(a: str, b: str, dim: int | None = None) -> str:
    """`<+>` — Manhattan (vector.cpp, sql:187)."""
    return _sum_sql(a, b, _ABS_DIFF, dim)


# --- binary vectors: represented as array<bigint> of 64-bit words ---------

def _bit_count_sum(a: str, b: str, op: str) -> str:
    return _sum_sql(a, b, f"CAST(bit_count({{x}} {op} {{y}}) AS DOUBLE)", None)


def hamming_distance_sql(a: str, b: str) -> str:
    """`<~>` over bit(n) (bitutils.cpp; sql:720,728): popcount(a XOR b).

    Binary vectors are packed little-endian into 64-bit words; XOR +
    bit_count per word keeps this a pure JVM integer kernel.
    """
    return f"CAST({_bit_count_sum(a, b, '^')} AS BIGINT)"


def jaccard_distance_sql(a: str, b: str) -> str:
    """`<%>` over bit(n) (bitutils.cpp; sql:723,733): 1 - |a∧b| / |a∨b|."""
    union = _bit_count_sum(a, b, "|")
    return (f"CASE WHEN {union} = 0 THEN 0.0D "
            f"ELSE 1.0D - {_bit_count_sum(a, b, '&')} / {union} END")


def _column(kernel_sql):
    """The Column form of a kernel: its SQL text in one ``F.expr``."""
    def kernel(*operands, **kw) -> Column:
        return F.expr(kernel_sql(*operands, **kw))

    kernel.__name__ = kernel_sql.__name__.removesuffix("_sql")
    kernel.__doc__ = kernel_sql.__doc__
    return kernel


l2_squared = _column(l2_squared_sql)
l2_distance = _column(l2_distance_sql)
dot_product = _column(dot_product_sql)
neg_inner_product = _column(neg_inner_product_sql)
l2_norm = _column(l2_norm_sql)
cosine_distance = _column(cosine_distance_sql)
l1_distance = _column(l1_distance_sql)
hamming_distance = _column(hamming_distance_sql)
jaccard_distance = _column(jaccard_distance_sql)


class Metric(NamedTuple):
    """How a column is compared with a query vector under one metric:
    the column's operand cast, the query's literal and the kernel."""

    operand: Callable[[str], str]
    literal: Callable[[Sequence], str]
    kernel: Callable[[str, str], str]


METRICS = {
    "l2": Metric(as_double, dlit_sql, l2_distance_sql),
    "ip": Metric(as_double, dlit_sql, neg_inner_product_sql),
    "cosine": Metric(as_double, dlit_sql, cosine_distance_sql),
    "l1": Metric(as_double, dlit_sql, l1_distance_sql),
    # bit(n) as packed words (bit_hamming_ops): integer XOR-popcount
    "hamming": Metric(as_bigint, llit_sql, hamming_distance_sql),
}


def query_distance_sql(metric: str, col: str, qvec: Sequence) -> str:
    """SQL text of ``metric``'s distance from column ``col`` to the
    query vector ``qvec``."""
    m = METRICS[metric]
    return m.kernel(m.operand(col), m.literal(qvec))


query_distance = _column(query_distance_sql)

# each metric's kernel over two operands given as SQL text
DISTANCES = {name: _column(m.kernel) for name, m in METRICS.items()}
