"""JVM-side vector math over array<float>/array<double> columns.

This is the retrieval capability the reference *declared* but never shipped:
it installs pgvector + pgvectorscale and creates a VECTOR(768) column
(src/rag/sqlx.rs:22-29,42) yet no ``<->``/``<=>`` operator, index DDL,
ORDER BY or LIMIT appears anywhere in its source (SURVEY §0, E3 in §2.7).
Here cosine/L2/dot are pure Catalyst expressions (``zip_with`` +
``aggregate``) evaluated in the JVM over the scan, and they scale with
ordinary Spark parallelism.  No Python UDF in the hot path.

This module is the one place that knows how squared L2 is summed: the
fold ``squared_l2`` and its unrolled SQL rendering ``squared_l2_sql``.
Plans import them; they never restate the kernel.

All math is done in double precision (arrays are cast) so results are
reproducible against the DuckDB oracle, which also computes list ops in
double.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Sequential left-to-right fold — deterministic summation order."""
    a, b = _as_double_array(a), _as_double_array(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def squared_l2(a: Column | str, b: Column | str) -> Column:
    """THE squared-L2 fold: ``(x - y) * (x - y)`` summed left to right
    from ``0.0D`` — the order every DuckDB twin replays and the ``(d2,
    id)`` argmin tie-breaks rely on.  No cast: callers hand in
    array<double> columns, so each caller's plan is exactly the fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def squared_l2_sql(xs: Sequence[str], ys: Sequence[str]) -> str:
    """``squared_l2`` unrolled for a statically known dimension, as one
    Spark SQL string over paired operand expressions ``xs[i]``/``ys[i]``
    (e.g. ``v[0]``, ``e.cw[3]`` inside a lambda):
    ``((x0 - y0) * (x0 - y0) + (x1 - y1) * (x1 - y1) + ...)``.

    Higher-order functions are CodegenFallback, so the fold evaluates
    interpreted per row; this flat form codegens.  Bit-identical to the
    fold: both sum the same terms left to right, and the fold's leading
    ``0.0 + t0`` is ``t0`` bit for bit because a square ``(x - y) * (x -
    y)`` is never -0.0 (null and NaN propagate alike).  Text, not Column
    algebra: built from Column objects, the same 64-d tree optimizes to
    the identical plan but costs over a second of py4j per build."""
    terms = [f"({x} - {y}) * ({x} - {y})" for x, y in zip(xs, ys, strict=True)]
    return "(" + " + ".join(terms) + ")"


def l2_distance(a: Column | str, b: Column | str) -> Column:
    return F.sqrt(squared_l2(_as_double_array(a), _as_double_array(b)))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a| * |b|); matches DuckDB list_cosine_similarity on
    DOUBLE[] up to summation ulps (callers round before comparing)."""
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
