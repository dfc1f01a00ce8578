"""Round-12 optimization pins: internals changed for performance must
keep their contracts (OPTIMIZATION_r12.md documents each change)."""

from __future__ import annotations

from .conftest import SF_CORRECT


def test_dsum6_bitwise_equals_dsum_on_6dp_grid(spark):
    """dsum6/davg6 (scaled-long spelling) must be BIT-IDENTICAL to the
    decimal-sum convention on any data meeting its preconditions:
    ≤6 true decimal digits, |x| ≤ 4e9 — randomized grid including
    negatives, half-way 6th digits, NULLs, all-NULL and empty-ish
    groups, and magnitudes up to the TPC-H money bound."""
    import random

    from pyspark.sql import functions as F

    from opengauss_vectordb_spark.operators._util import (
        davg,
        davg6,
        dsum,
        dsum6,
    )

    rng = random.Random(1206)
    rows = []
    for i in range(4000):
        g = i % 7
        if rng.random() < 0.05:
            rows.append((g, None))
            continue
        digits = rng.randint(0, 6)
        mag = rng.choice([1, 10, 1000, 105000, 4_000_000_000])
        v = round(rng.uniform(-mag, mag), digits)
        if rng.random() < 0.1:
            v = round(rng.randint(0, 999) + 0.0000005, 7)  # .5 edge
            v = round(v, 6)
        rows.append((g, float(v)))
    rows.append((99, None))  # all-NULL group
    df = spark.createDataFrame(rows, "g INT, x DOUBLE")
    out = (
        df.groupBy("g")
        .agg(
            dsum(F.col("x"), "s_dec"),
            dsum6(F.col("x"), "s_fast"),
            davg(F.col("x"), "a_dec"),
            davg6(F.col("x"), "a_fast"),
        )
        .collect()
    )
    for r in out:
        assert r.s_dec == r.s_fast, (r.g, r.s_dec, r.s_fast)
        assert r.a_dec == r.a_fast, (r.g, r.a_dec, r.a_fast)


def test_dim_guarded_distance_kernels_match_fold(spark):
    """distance.py dim-guarded unrolled kernels must be bit-identical
    to the fold spelling for every metric — including signed zeros,
    NULL vectors, and rows whose length differs from the guard dim
    (those take the fold fallback)."""
    import math
    import random

    from opengauss_vectordb_spark.vector.distance import (
        cosine_distance,
        dot_product,
        l1_distance,
        l2_distance,
        l2_norm,
    )

    rng = random.Random(7)
    rows = []
    for i in range(300):
        n = 8 if i % 5 else rng.choice([3, 8, 12])
        a = [rng.uniform(-2, 2) for _ in range(n)]
        b = [rng.uniform(-2, 2) for _ in range(n)]
        if i % 17 == 0:
            a = [0.0] * n
        if i % 23 == 0:
            a = [-0.0] * n
            b = [0.0] * n
        rows.append((i, a, b))
    rows.append((9001, None, [1.0] * 8))
    df = spark.createDataFrame(
        rows, "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    )
    ca, cb = "a", "b"
    out = df.select(
        "i",
        dot_product(ca, cb).alias("d0"),
        dot_product(ca, cb, dim=8).alias("d1"),
        l2_distance(ca, cb).alias("l0"),
        l2_distance(ca, cb, dim=8).alias("l1"),
        l1_distance(ca, cb).alias("m0"),
        l1_distance(ca, cb, dim=8).alias("m1"),
        cosine_distance(ca, cb).alias("c0"),
        cosine_distance(ca, cb, dim=8).alias("c1"),
        l2_norm(ca).alias("n0"),
        l2_norm(ca, dim=8).alias("n1"),
    ).collect()

    def same(x, y):
        if x is None or y is None:
            return x is None and y is None
        if math.isnan(x) or math.isnan(y):
            return math.isnan(x) and math.isnan(y)
        return x == y and math.copysign(1, x) == math.copysign(1, y)

    for r in out:
        for p in ("d", "l", "m", "c", "n"):
            assert same(r[p + "0"], r[p + "1"]), (r.i, p, r)


def test_table_handle_cache_returns_same_lazy_plan(spark):
    """catalog.table() memoizes the DataFrame HANDLE per
    (session, sf_dir, name) — ~90 ms of py4j/footer overhead per call
    was ~1/3 of bench wall time.  The cache must return the identical
    lazy plan (same results), stay keyed per sf_dir, and never eagerly
    materialize (it is plan reuse, not result caching)."""
    from opengauss_vectordb_spark.catalog import table

    a = table(spark, SF_CORRECT, "nation")
    b = table(spark, SF_CORRECT, "nation")
    assert a is b, "second call must hit the handle cache"
    other = table(spark, "/root/testdata/sf0.001", "nation")
    assert other is not a, "cache must be keyed per sf_dir"
    assert a.count() == b.count() == 25
    # not persisted/cached data: storage level stays NONE
    assert not a.storageLevel.useMemory and not a.storageLevel.useDisk
    # events keeps its nanos→NTZ conversion through the cache
    ev = table(spark, SF_CORRECT, "events")
    assert ev is table(spark, SF_CORRECT, "events")
    assert dict(ev.dtypes)["ts"].startswith("timestamp")
