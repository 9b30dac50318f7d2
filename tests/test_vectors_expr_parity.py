"""Round-13 pin: the expr-string vector builders are value-identical to
the Column-DSL forms they replaced.

Why they exist: each higher-order function built through the Column DSL
costs ~10-15 ms of py4j round trips at plan-BUILD time; a cosine is three
folds, so the DSL form cost ~0.1 s of driver latency per call site per
build — measured in round 13 as ~40% of the wall of every sub-second ANN
query (and the entirety of the r12 "norm-hoist regression" on
ann_bruteforce_topk). The ``F.expr`` strings parse in microseconds and
must produce the IDENTICAL Catalyst tree; this test pins that claim at
the value level (bit-identical doubles, including NULL behavior on
zero-norm vectors) and exercises the Column fallback path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from zarr_datafusion_search_spark.functions import vectors as V


def _dsl_dot(a, b):
    # the retired DSL construction, verbatim
    prods = F.zip_with(
        F.transform(F.col(a), lambda x: x.cast("double")),
        F.transform(F.col(b), lambda x: x.cast("double")),
        lambda x, y: x * y,
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [0.1, -0.2, 0.3], [-0.4, 0.5, -0.6]),
        # zero-norm side: cosine must be NULL via try_divide on both forms
        (3, [0.0, 0.0, 0.0], [1.0, 1.0, 1.0]),
        # denormal-ish values exercise the cast/fold order
        (4, [1e-30, 2e30, -3.5], [7.25, -1e-20, 2.0]),
    ]
    return spark.createDataFrame(
        rows, "id int, a array<float>, b array<float>"
    )


def test_expr_matches_dsl_bitwise(pairs):
    old = pairs.select(
        "id",
        _dsl_dot("a", "b").alias("d"),
        F.sqrt(_dsl_dot("a", "a")).alias("n"),
        F.try_divide(
            _dsl_dot("a", "b"),
            F.sqrt(_dsl_dot("a", "a")) * F.sqrt(_dsl_dot("b", "b")),
        ).alias("c"),
    ).orderBy("id").collect()
    new = pairs.select(
        "id",
        V.dot_product("a", "b").alias("d"),
        V.l2_norm("a").alias("n"),
        V.cosine_similarity("a", "b").alias("c"),
    ).orderBy("id").collect()
    assert old == new
    # zero-norm row yields NULL cosine on the expr path too
    assert new[2]["c"] is None


def test_column_fallback_still_works(pairs):
    # Column (non-string) inputs take the DSL fallback; same values
    got = pairs.select(
        "id", V.dot_product(F.col("a"), F.col("b")).alias("d")
    ).orderBy("id").collect()
    want = pairs.select(
        "id", V.dot_product("a", "b").alias("d")
    ).orderBy("id").collect()
    assert got == want


def test_qualified_names_backticked(pairs):
    # alias-qualified references resolve through the backtick quoting
    j = pairs.alias("x").join(
        pairs.alias("y"), F.col("x.id") == F.col("y.id")
    )
    got = j.select(
        F.col("x.id").alias("id"), V.dot_product("x.a", "y.b").alias("d")
    ).orderBy("id").collect()
    want = j.select(
        F.col("x.id").alias("id"),
        V.dot_product(F.col("x.a"), F.col("y.b")).alias("d"),
    ).orderBy("id").collect()
    assert got == want


def test_backtick_in_name_matches_plain_name(pairs):
    # a column named a`b, referenced in Spark's attribute syntax, takes the
    # Column DSL path and gives the same values as the plain name
    odd = pairs.withColumnRenamed("a", "a`b")
    ref = "`a``b`"
    got = odd.select(
        "id",
        V.dot_product(ref, "b").alias("d"),
        V.l2_norm(ref).alias("n"),
        V.cosine_similarity(ref, "b").alias("c"),
    ).orderBy("id").collect()
    want = pairs.select(
        "id",
        V.dot_product("a", "b").alias("d"),
        V.l2_norm("a").alias("n"),
        V.cosine_similarity("a", "b").alias("c"),
    ).orderBy("id").collect()
    assert got == want
    assert V._sql_name(ref) is None and V._sql_name("a`b") is None
