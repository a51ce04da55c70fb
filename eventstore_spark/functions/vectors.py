"""Vector math over embedding columns (array<float>), JVM-side.

Dot products / norms are expressed with ``zip_with`` + ``aggregate`` —
whole-stage-codegen'd left folds, no Python, no UDF. The fold order is
fixed (left-to-right over array index), which makes results bit-identical
to the DuckDB oracle's ``list_reduce`` form below.

Elements are cast float→double (exact) before any arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_d(a), _d(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_d(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# -- Spark-SQL text forms ----------------------------------------------------
# The same folds as the Column builders above, emitted as Spark-SQL text for
# callers that assemble large expressions (e.g. one term per IVF centroid):
# one F.expr parse instead of thousands of py4j Column calls. Function-for-
# function identical to the Column forms, so results are bit-identical.

def spark_sql_lit_array(values) -> str:
    """A literal double array: repr() round-trips exactly, so the parsed
    doubles equal the Python floats."""
    return "array({})".format(", ".join(f"CAST({float(v)!r} AS DOUBLE)" for v in values))


def spark_sql_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with(transform({a}, x -> CAST(x AS DOUBLE)), "
        f"transform({b}, x -> CAST(x AS DOUBLE)), (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def spark_sql_norm(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
    )


def spark_sql_cosine(a: str, b: str) -> str:
    return f"({spark_sql_dot(a, b)} / ({spark_sql_norm(a)} * {spark_sql_norm(b)}))"


# -- DuckDB oracle forms -----------------------------------------------------
# list_reduce starts its fold at element 1, Spark's aggregate at 0.0;
# (0.0 + p1) == p1 exactly, so the partial-sum sequences are identical.

def sql_dot(a: str, b: str, dim: int) -> str:
    return (
        f"list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
    )


def sql_norm(a: str, dim: int) -> str:
    return (
        f"sqrt(list_reduce(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
    )


def sql_cosine(a: str, b: str, dim: int) -> str:
    return f"({sql_dot(a, b, dim)} / ({sql_norm(a, dim)} * {sql_norm(b, dim)}))"
