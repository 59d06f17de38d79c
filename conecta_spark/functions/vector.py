"""Vector column functions over ``array<float>`` embedding columns.

All folds are sequential left-to-right over doubles in both engines, so
Spark and DuckDB produce bit-identical results (verified by the oracle
suite).  JVM-side expressions -- no UDF, no Python -- and embarrassingly
parallel per row.

Spark snippets use 1-indexed ``element_at``; DuckDB twins use 1-indexed
``l[i]``.  ``range(1, n+1)`` in DuckDB == ``sequence(1, n)`` in Spark.
"""

from __future__ import annotations


def dot_expr(a: str, b: str, dim: int) -> str:
    """Spark SQL: sequential-fold dot product of two double arrays."""
    return (
        f"aggregate(transform(sequence(1, {dim}), "
        f"i -> element_at({a}, i) * element_at({b}, i)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def norm_expr(a: str, dim: int) -> str:
    return f"sqrt({dot_expr(a, a, dim)})"


def cosine_expr(a: str, b: str, dim: int) -> str:
    return f"({dot_expr(a, b, dim)} / ({norm_expr(a, dim)} * {norm_expr(b, dim)}))"


def normalize_expr(a: str, dim: int) -> str:
    """Unit-normalize: divide every component by the l2 norm."""
    return f"transform({a}, x -> x / {norm_expr(a, dim)})"


def l2_expr(a: str, b: str, dim: int) -> str:
    """Spark SQL: Euclidean distance, sequential fold (parity-safe)."""
    return (
        f"sqrt(aggregate(transform(sequence(1, {dim}), "
        f"i -> (element_at({a}, i) - element_at({b}, i)) * "
        f"(element_at({a}, i) - element_at({b}, i))), "
        f"0.0D, (acc, x) -> acc + x))"
    )


# -- DuckDB twins -----------------------------------------------------------


def duck_dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), i -> {a}[i] * {b}[i])), "
        f"(acc, x) -> acc + x)"
    )


def duck_norm(a: str, dim: int) -> str:
    return f"sqrt({duck_dot(a, a, dim)})"


def duck_cosine(a: str, b: str, dim: int) -> str:
    return f"({duck_dot(a, b, dim)} / ({duck_norm(a, dim)} * {duck_norm(b, dim)}))"


def duck_normalize(a: str, dim: int) -> str:
    return f"list_transform({a}, x -> x / {duck_norm(a, dim)})"


def duck_l2(a: str, b: str, dim: int) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform(range(1, {dim} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
        f"(acc, x) -> acc + x))"
    )
