"""Vector math over ``array<float>`` columns, JVM-side (no Python UDFs).

Built on ``zip_with``/``aggregate`` higher-order functions so the hot path
stays inside whole-stage codegen. All arithmetic is double-precision (the
float32 inputs are upcast first) so results are reproducible against the
DuckDB oracle, which computes on ``DOUBLE[]``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _sql_name(col: Column | str) -> str | None:
    """Backtick-quoted SQL reference for a plain column NAME, else None.

    The expr-string fast path below exists because each higher-order
    function built through the Column DSL costs ~10-15 ms of py4j round
    trips (`_create_lambda` + `_invoke_higher_order_function` socket
    chatter) — a cosine built from three DSL folds costs ~0.1 s of plan
    BUILD per call site, which round 13 measured as 40% of the WALL of
    every sub-second ANN query (the benched run pays a fresh plan build
    each repetition, and the r12 norm-hoist "regression" on
    ann_bruteforce_topk was entirely the two extra l2_norm DSL builds).
    One ``F.expr`` parse is milliseconds and yields the IDENTICAL
    Catalyst tree. Same precedent as ``srp_bucket``'s expression string.
    A name holding a backtick also gets None, so the Column DSL path
    resolves it.
    """
    if isinstance(col, str) and "`" not in col:
        return ".".join(f"`{p}`" for p in col.split("."))
    return None


def _dot_sql(a: str, b: str) -> str:
    """The sequential-fold dot product as one SQL expression string —
    token-identical semantics to the DSL form: upcast each side with
    ``transform(cast double)``, multiply via ``zip_with``, left-fold with
    ``aggregate`` from 0.0. Parsed and DSL-built trees canonicalize to
    the same plan (pinned by test_vectors_expr_parity)."""
    return (
        f"aggregate(zip_with(transform({a}, x -> cast(x as double)), "
        f"transform({b}, x -> cast(x as double)), (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, x) -> acc + x)"
    )


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision."""
    na, nb = _sql_name(a), _sql_name(b)
    if na is not None and nb is not None:
        return F.expr(_dot_sql(na, nb))
    prods = F.zip_with(_to_double(_c(a)), _to_double(_c(b)), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    na = _sql_name(a)
    if na is not None:
        return F.expr(f"sqrt({_dot_sql(na, na)})")
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    # try_divide: cosine with a zero-norm vector is undefined -> NULL (under
    # Spark 4's default ANSI mode a plain `/` would instead fail the whole
    # job on the first zero vector)
    na, nb = _sql_name(a), _sql_name(b)
    if na is not None and nb is not None:
        return F.expr(
            f"try_divide({_dot_sql(na, nb)}, "
            f"sqrt({_dot_sql(na, na)}) * sqrt({_dot_sql(nb, nb)}))"
        )
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


#: DuckDB SQL fragments computing the same quantities on ``a``/``b`` list
#: expressions (upcast to DOUBLE[] to match the Spark path).
def duckdb_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def duckdb_cosine(a: str, b: str) -> str:
    # nullif mirrors the Spark try_divide: zero-norm vector -> NULL cosine
    return (
        f"({duckdb_dot(a, b)} / nullif("
        f"sqrt({duckdb_dot(a, a)}) * sqrt({duckdb_dot(b, b)}), 0))"
    )
