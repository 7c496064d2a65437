"""Vector expressions over ``array<float>`` embeddings, as SQL text.

Each function takes SQL operands (column names or any array-valued SQL
expression) and returns SQL expression text built from Spark's
higher-order functions (zip_with / transform / aggregate), for the
caller to wrap in one ``F.expr`` or ``selectExpr``. The arithmetic stays
JVM-side and codegen'd — no UDF, no Python round-trip — and building
the expression costs one parse instead of a py4j call per lambda node.

Elements are cast to double before any multiply so results are
bit-comparable with a double-precision oracle: both Spark's
``aggregate`` and an ordered SQL fold sum elements left-to-right in
array order, giving identical IEEE-754 results. The fold's zero is
``0D``, a double; a bare ``0.0`` would parse as a decimal.

These are the kernels for the similarity-search and embedding-dedup
operators (extensions beyond the reference surface; the reference has
no vector types — SURVEY.md §1.2).
"""

from __future__ import annotations


def dot(a: str, b: str) -> str:
    """Ordered-fold dot product of two array<numeric> operands."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (x, y) -> x + y)"
    )


def norm(a: str) -> str:
    """Euclidean norm of an array<numeric> operand."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0D, (x, y) -> x + y))"
    )


def cosine(a: str, b: str, norm_a: str | None = None, norm_b: str | None = None) -> str:
    """Cosine similarity of ``a`` and ``b``. Pass precomputed norm
    operands to divide by them instead of re-deriving each norm; sqrt
    is deterministic, so the result is bit-identical either way."""
    return f"({dot(a, b)} / ({norm_a or norm(a)} * {norm_b or norm(b)}))"
