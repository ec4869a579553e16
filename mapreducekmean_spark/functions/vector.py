"""Vector math as Catalyst higher-order-function expressions.

This is the engine's generalization of the reference's d=2 distance kernel
(``/root/reference/src/MapReduceKMean/PointsMapper.java:68-75``:
``Math.abs(Math.pow(x-cx,2) + Math.pow(y-cy,2))`` in a k-loop) to d-dim
``array<double>`` columns.

Cross-engine determinism contract (SURVEY.md §7 watch-list): every fold is a
*sequential left fold in array-index order* (``F.aggregate`` semantics), and
DuckDB oracles mirror it with ``list_sum(list_transform(...))`` over the
same cast-to-double values — float addition happens in the same order in
both engines, so distances are bit-identical and argmin assignments match
exactly without rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    """Cast ``array<float>`` → ``array<double>`` once, before any math.

    float→double conversion is exact, so Spark and DuckDB see identical
    doubles (FIXTURES.md load pattern).
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance between two ``array<double>`` columns.

    Reference kernel: ``PointsMapper.java:69`` (the redundant ``Math.abs``
    around a sum of squares is dropped — a sum of squares is non-negative).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product via sequential fold (order-stable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    """Euclidean norm via the same sequential fold."""
    return F.sqrt(dot(a, a))


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity ``dot/(|a||b|)``; NULL-safe only insofar as the
    inputs are non-empty arrays (fixture embeddings always are)."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def centroid_literal_sql(centroids: Sequence[Sequence[float]]) -> str:
    """The centroid literal as a SQL expression string.

    One parsed expression instead of k×d ``F.lit`` calls: building the
    literal column-by-column costs one py4j round trip per element
    (~0.8s per iteration at k=10, d=64, dominating the Lloyd's loop);
    a single parsed string is ~1000× fewer driver calls. ``repr()``
    round-trips doubles exactly and the SQL parser reads them back
    correctly rounded, so values are bit-identical to ``F.lit``.
    """
    inner = ",".join(double_array_literal_sql(c) for c in centroids)
    return f"array({inner})"


def double_literal_sql(v: float) -> str:
    """One double as a parseable SQL literal, bit-identical to ``F.lit``.

    ``repr()`` round-trips doubles exactly and the SQL parser reads them
    back correctly rounded; ``repr(inf/nan)`` would emit ``infD`` → an
    unresolved-column error, so those use the parseable cast forms."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def double_array_literal_sql(values: Sequence[float]) -> str:
    """A 1-D double array as one parseable SQL literal (the
    ``centroid_literal_sql`` discipline for flat vectors): one parsed
    string instead of one py4j ``F.lit`` round trip per element."""
    return "array(" + ",".join(double_literal_sql(v) for v in values) + ")"


def argmin_index(dists: Column) -> Column:
    """0-based index of the minimum element, first-wins on ties.

    Mirrors the reference's ``<`` strict-compare loop
    (``PointsMapper.java:70-74``), which keeps the *first* centroid on an
    exact tie. ``array_position`` returns the 1-based first occurrence.
    """
    return (F.array_position(dists, F.array_min(dists)) - F.lit(1)).cast("bigint")
