"""Exact distributed KNN over an embedding column (reference Q1/Q2).

Reference behavior: Qdrant ``query_points(query=vec, limit=k)`` with DOT
distance on unit vectors (`query.py:53-55`, `app.py:84-86`,
`mcp_server.py:123-125`, distance at `pipeline/store_assets.py:42`).  Here
KNN is a scored DataFrame scan — *exact* (recall 1.0, ≥ Qdrant's ANN) and
embarrassingly parallel.

Scale design (the part that must survive 100 TB / 1000 executors):

- **Single query** (`knn_topk`): ``orderBy(desc(score)).limit(k)`` compiles
  to ``TakeOrderedAndProject`` — per-partition top-k then a k-row merge on
  the driver.  At scale the scan is never shuffled; on a tiny input the
  ``fan_out`` guard may first insert one repartition (full rows, vectors
  included) purely to occupy all cores — that exchange disappears once
  scan partitions reach cluster parallelism.
- **Query batch** (`similarity_join`): broadcast the (small) query side,
  score in the scan, then **project the vectors away before any exchange**
  — the per-query top-k shuffle moves only (query_id, id, score) ≈ 24-byte
  rows, never the 1.5 KB embeddings.
- Spark 4 plans ``row_number() <= k`` as ``WindowGroupLimit`` on BOTH sides
  of the exchange (pinned by tests/test_knn_prune.py), i.e. native map-side
  per-partition top-k: the shuffle is already bounded at
  ``num_partitions * |Q| * k`` narrow rows regardless of corpus size, with
  no Python worker in the plan.
- **Per-request construction**: the query vector enters the plan as one
  string literal cast to ``array<double>`` (folded by the optimizer into
  the same constant array a per-element ``F.lit`` list gives) and the
  score as one SQL expression, so building a request's plan costs the
  same few py4j calls at any dimension instead of ~5 per element.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import dot_product, dot_sql, quote_ident, vector_literal_sql


def score_by_dot(
    emb: DataFrame, query_vec: Sequence[float], vec_col: str = "embedding"
) -> DataFrame:
    """Append a DOUBLE ``score`` = dot(vec_col, query_vec) to every row.

    The column is one SQL expression: the :func:`dot_product` fold over the
    query vector as one folded ``array<double>`` literal, so building it
    costs the same handful of py4j calls at any dimension.  A row whose
    vector length differs from the query's fails the query with an error
    naming both lengths (zip_with would pad with nulls and score it
    null); a null vector scores null.
    """
    n = len(query_vec)
    v = quote_ident(vec_col)
    return emb.withColumn("score", F.expr(
        f"CASE WHEN {v} IS NOT NULL AND size({v}) <> {n} THEN raise_error("
        f"concat('score_by_dot: query vector has {n} dimensions, ', "
        f"'the vector column has ', CAST(size({v}) AS STRING))) "
        f"ELSE {dot_sql(v, vector_literal_sql(query_vec))} END"
    ))


def knn_topk(
    emb: DataFrame,
    query_vec: Sequence[float],
    k: int = 20,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] | None = None,
    where: Column | None = None,
) -> DataFrame:
    """Exact top-k by dot product for one query vector.

    ``where`` is a pre-score predicate (filtered search, reference MCP
    semantics push this *before* the scan: Catalyst pushes it to Parquet).
    Ties broken by ``id_col`` for deterministic output.
    """
    from ..partitioning import fan_out

    if where is not None:
        emb = emb.filter(where)
    # the dot-product fold is an interpreted HOF chain — make sure a
    # single-row-group scan doesn't pin it to one core (no-op at scale)
    scored = score_by_dot(fan_out(emb, id_col), query_vec, vec_col)
    cols = [id_col, *(payload_cols or []), "score"]
    return (
        scored.select(*cols)  # vectors dropped before the ordered merge
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def similarity_join(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Batched multi-query KNN: top-k matches per query row.

    The Spark-native generalization of the reference's one-vector-at-a-time
    entry points (SURVEY.md §2.4 Q2): broadcast-cross-join the query table
    against the index table, score by dot product, rank per query.

    Returns (query_id, id_col, payload..., score, rank) with rank 1..k.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qvec")
        )
    )
    from ..partitioning import fan_out

    scored = fan_out(emb, id_col).crossJoin(q).withColumn(
        "score", dot_product(F.col(vec_col), F.col("__qvec"))
    )
    # Narrow projection BEFORE the exchange: never shuffle vectors.
    narrow = scored.select(F.col("query_id"), F.col(id_col).alias("__id"), F.col("score"))

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("__id"))
    topk = (
        narrow.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .withColumnRenamed("__id", id_col)
    )
    if payload_cols:
        payload = emb.select(id_col, *payload_cols)
        topk = topk.join(payload, id_col, "left")
    return topk.select("query_id", id_col, *(payload_cols or []), "score", "rank")
