"""Property-based tests (hypothesis) for the vector distance kernels —
the datavec suite's randomized-testing strategy (SURVEY §5: random
vectors, exact ground truth) applied to distance.py: for arbitrary
finite vectors the codegen'd Column expressions must agree with numpy
reference implementations.

One Spark job per hypothesis example is slow, so each example carries a
BATCH of vector pairs and the whole batch is checked in one collect.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opengauss_vectordb_spark.vector.distance import (
    cosine_distance,
    l1_distance,
    l2_distance,
    neg_inner_product,
)

finite = st.floats(
    min_value=-100.0, max_value=100.0, allow_nan=False, allow_infinity=False
)


@st.composite
def vector_pairs(draw):
    dim = draw(st.integers(min_value=1, max_value=16))
    n = draw(st.integers(min_value=1, max_value=8))
    pairs = [
        (
            draw(st.lists(finite, min_size=dim, max_size=dim)),
            draw(st.lists(finite, min_size=dim, max_size=dim)),
        )
        for _ in range(n)
    ]
    return pairs


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(vector_pairs())
def test_distances_match_numpy(spark, pairs):
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i INT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>",
    )
    rows = df.select(
        "i",
        l2_distance("a", "b").alias("l2"),
        neg_inner_product("a", "b").alias("nip"),
        l1_distance("a", "b").alias("l1"),
        cosine_distance("a", "b").alias("cos"),
    ).collect()
    for r in rows:
        a = np.array(pairs[r.i][0])
        b = np.array(pairs[r.i][1])
        assert r.l2 == pytest.approx(float(np.linalg.norm(a - b)), abs=1e-9, rel=1e-9)
        assert r.nip == pytest.approx(float(-np.dot(a, b)), abs=1e-9, rel=1e-9)
        assert r.l1 == pytest.approx(float(np.abs(a - b).sum()), abs=1e-9, rel=1e-9)
        na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
        if na > 0.0 and nb > 0.0:
            want = 1.0 - float(np.dot(a, b)) / (na * nb)
            assert r.cos == pytest.approx(want, abs=1e-9)
        else:
            # zero vector: NaN exactly (the reference's C division), so
            # the row sorts LAST in kNN — never NULL, which sorts first
            assert r.cos is not None and math.isnan(r.cos)


def test_cosine_zero_vector_ranks_last(spark):
    """A zero vector must never surface at the top of cosine kNN
    (vector.cpp computes NaN, which PG float order sorts last)."""
    from opengauss_vectordb_spark.vector.exact import knn

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0])],
        "id INT, v ARRAY<DOUBLE>",
    )
    got = knn(df, "v", [1.0, 0.0], k=4, metric="cosine", id_col="id").collect()
    assert [r.id for r in got] == [1, 2, 3, 0]
    assert math.isnan(got[-1].distance)
