"""Vector column math as native Catalyst expressions.

Reference semantics: Qdrant stores 384-d unit vectors and scores by dot
product, which on unit vectors IS cosine similarity
(`pipeline/store_assets.py:42`, `pipeline/encode_assets.py:30`,
`README.md:78` of the reference).  Here the vector is an
``ArrayType(Float/Double)`` column and the fold runs inside whole-stage
codegen via the higher-order functions ``zip_with``/``aggregate`` — no
Python in the hot path, so a 100 TB scan scores vectors at JVM speed and
embarrassingly parallel (no shuffle).

All folds accumulate in DOUBLE regardless of the input element type so
results are reproducible against the DuckDB oracle.

Float vectors held in Python (a query, hyperplanes, quantizer constants) go
into a plan as ONE string literal cast to ``array<double>`` rather than
one ``F.lit`` per element: construction then costs a few py4j calls at
any dimension, and the optimizer folds the cast to the same constant
array literal.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# The dot-product fold as SQL text: per-element DOUBLE products summed left
# to right from 0.0 — the same expression tree :func:`dot_product` builds.
_DOT_SQL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " 0D, (acc, v) -> acc + v)"
)


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for SQL text (backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def dot_sql(a: str, b: str) -> str:
    """SQL text of :func:`dot_product` over the SQL expressions ``a``, ``b``."""
    return _DOT_SQL.format(a=a, b=b)


def vector_literal_sql(values: Sequence[float]) -> str:
    """SQL text of a constant ``array<double>``: the ``repr`` of each float
    (shortest round-trip form; nan/inf spelled as Spark's cast parses them)
    joined into one string and cast, so every value — -0.0, subnormals,
    ±inf, NaN — comes back bit-exact."""
    if not values:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    csv = ",".join(repr(float(x)) for x in values)
    return f"CAST(split('{csv}', ',') AS ARRAY<DOUBLE>)"


def vector_literal(values: Sequence[float]) -> Column:
    """A float sequence as one constant ``array<double>`` column."""
    return F.expr(vector_literal_sql(values))


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Elementwise product folded into a DOUBLE sum: sum_i a[i]*b[i]."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def l2_normalize(a: Column | str) -> Column:
    """Scale to unit length (so downstream dot ≡ cosine); zero vectors pass through."""
    a = F.col(a) if isinstance(a, str) else a
    norm = l2_norm(a)
    return F.when(norm == 0.0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / norm)
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a||b|) — use :func:`dot_product` directly on unit vectors."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return dot_product(a, b) / (l2_norm(a) * l2_norm(b))
