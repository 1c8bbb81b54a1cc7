"""SQL front-end (SURVEY.md §3.5): register the fixture tables as temp
views plus the engine's scalar surface as SQL functions, so every
relational operator is expressible directly in ``spark.sql``.

The registered function set mirrors ``functions/``: vector math (dot /
cosine), the rerank stub, sigmoid, relevance label, portable rounding,
fingerprints and token counts — all defined as SQL expressions over native
builtins (no Python UDFs), so SQL users get the same JVM-side plans as the
DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .functions.vector import dot_sql
from .sources.tables import register_views

_SQL_FUNCTIONS = {
    # name -> (args, body)
    "vss_dot": ("a ARRAY<DOUBLE>, b ARRAY<DOUBLE>", dot_sql("a", "b")),
    "vss_norm": (
        "a ARRAY<DOUBLE>",
        "sqrt(aggregate(a, CAST(0.0 AS DOUBLE), (acc, v) -> acc + v * v))",
    ),
    "vss_round4": ("x DOUBLE", "floor(x * 10000 + 0.5) / 10000.0"),
    "vss_sigmoid": ("x DOUBLE", "1.0 / (1.0 + exp(-x))"),
    "vss_relevance": (
        "x DOUBLE",
        "CASE WHEN x >= 3.0 THEN 'high' WHEN x >= 0.0 THEN 'medium' ELSE 'low' END",
    ),
    "vss_rerank": (
        "q STRING, t STRING",
        "(CAST(conv(substring(md5(concat_ws('|', q, t)), 1, 8), 16, 10) AS BIGINT) % 100000)"
        " / 100000.0 * 8.0 - 4.0",
    ),
    "vss_fingerprint": (
        "t STRING",
        "substring(md5(trim(regexp_replace(lower(t), '\\\\s+', ' '))), 1, 16)",
    ),
    "vss_token_count": (
        "t STRING",
        "CASE WHEN trim(t) = '' THEN 0 ELSE size(split(trim(t), '\\\\s+')) END",
    ),
}


def register_sql_surface(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Create the engine's SQL functions (and, if ``sf_dir`` given, the
    fixture temp views) in the session's default catalog."""
    if sf_dir:
        register_views(spark, sf_dir)
    for name, (args, body) in _SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) RETURNS "
            f"{'STRING' if name in ('vss_relevance', 'vss_fingerprint') else ('INT' if name == 'vss_token_count' else 'DOUBLE')} "
            f"RETURN {body}"
        )
