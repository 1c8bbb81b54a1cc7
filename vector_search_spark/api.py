"""MCP-tool-shaped facade (reference R1, `mcp_server.py:79-215`): the full
query path returning the reference's structured dict, including empty-result
shaping (Q9), projection/casting (Q7) and display truncation (Q8).

A thin driver-side wrapper over the lazy plan in ``plans.search`` — the
only ``collect`` in the engine's query path happens here, on ≤ ``limit``
rows (SURVEY.md §2.5: keep the tool surface as a function that triggers
the Spark plan, not an engine operator).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame

from .plans.search import search


def _validate_date(name: str, value: str | None) -> dict | None:
    """Reference `mcp_server.py:100-117`: invalid date args → error dict."""
    if value is None:
        return None
    try:
        dt.date.fromisoformat(value)
    except ValueError:
        return {"error": f"Invalid {name} format: '{value}'. Use YYYY-MM-DD."}
    return None


def search_newsletter(
    index: DataFrame,
    query_vec: Sequence[float],
    query_text: str,
    from_date: str | None = None,
    to_date: str | None = None,
    min_score: float = 0.0,
    limit: int = 10,
    k: int = 50,
    snippet_chars: int = 50,
) -> dict:
    """`search_newsletter(query, from_date?, to_date?, min_score, limit)`
    with the reference's response schema (`mcp_server.py:127-137,179-215`).
    """
    for name, value in (("from_date", from_date), ("to_date", to_date)):
        err = _validate_date(name, value)
        if err:
            return err

    result = search(
        index,
        query_vec,
        query_text,
        k=k,
        min_score=min_score,
        from_date=from_date,
        to_date=to_date,
        limit=limit,
        id_col="chunk_id",
        payload_cols=("title", "date", "category", "url"),
    )
    # Q7 projection/casting + Q8 snippet truncation, applied lazily, as one
    # selectExpr (a few py4j calls instead of one per Column operation)
    n = int(snippet_chars)
    shaped = result.selectExpr(
        *(f"CAST(`{c}` AS STRING) AS `{c}`" for c in ("title", "date", "category", "url", "text")),
        f"CASE WHEN length(`text`) > {n} THEN concat(substring(`text`, 1, {n}), '...')"
        " ELSE `text` END AS `snippet`",
        "`score`",
    )
    rows = [r.asDict() for r in shaped.collect()]  # ≤ limit rows
    return {
        "query": query_text,
        "filters": {
            "from_date": from_date,
            "to_date": to_date,
            "min_score": min_score,
            "limit": limit,
        },
        "total_results": len(rows),
        "results": rows,
    }
