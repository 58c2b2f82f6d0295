"""Dense-vector math over ``array<float|double>`` columns — pure Column
expressions (``zip_with`` / ``aggregate``), no Python UDFs, so similarity
scans stay JVM-side and codegen'd even over 100 TB of embeddings.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot_product(a: Column, b: Column) -> Column:
    """Σ a_i * b_i, computed in double precision, left-to-right."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (||a|| * ||b||); null-safe on zero vectors (returns null)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot_product(a, b) / denom)


def doubles_sql(values) -> str:
    """The SQL expression STRING behind :func:`lit_doubles` — exposed
    (round-12) so callers composing larger one-expression strings (the
    ADC probe/LUT trees in operators/pq.py) can embed the literal
    matrix directly instead of paying a py4j round-trip per node of a
    Column-API tree around it.

    Rejects non-finite values loudly (SQL literals have no inf/nan
    spelling; every call site feeds k-means centroids/codebooks or
    hyperplanes, which are finite by construction).
    """
    import math

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        v = float(v)
        if not math.isfinite(v):
            raise ValueError("doubles_sql: non-finite literal")
        return repr(v) + "D"

    return render(values)


def lit_doubles(values) -> Column:
    """Literal ``array<double>`` (arbitrarily nested) built as ONE SQL
    expression string instead of one py4j ``F.lit`` round-trip per
    element (round-11 optimization finding: a 16x64 centroid matrix
    cost ~0.5 s of DRIVER time per query construction through the
    per-element path, ~3 ms through this one — the values are
    identical, since ``repr`` of a Python float is the shortest string
    that round-trips to the same IEEE double and Spark's literal
    parser is correctly rounded).
    """
    return F.expr(doubles_sql(values))


def lit_longs(values) -> Column:
    """Integer twin of :func:`lit_doubles` — literal ``array<bigint>``
    (arbitrarily nested) in one expression string."""

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        return str(int(v)) + "L"

    return F.expr(render(values))
