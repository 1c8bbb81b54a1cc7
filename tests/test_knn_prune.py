"""`similarity_join`'s per-query top-k is pruned natively: Spark 4 plans
``row_number() <= k`` as ``WindowGroupLimit`` on both sides of the
exchange, and the result is the exact top-k in (desc score, asc id) order,
including on score ties at the k boundary."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_TEST
from vector_search_spark.operators.knn import similarity_join


def _tied_inputs(spark):
    # duplicate vectors -> guaranteed score ties around the k boundary
    base = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").limit(30)
    dup = base.withColumn("vec_id", F.col("vec_id") + 10000)
    emb = base.unionByName(dup).repartition(6)
    queries = base.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return emb, queries


def test_similarity_join_plans_window_group_limit(spark):
    emb, queries = _tied_inputs(spark)
    df = similarity_join(emb, queries, k=7)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_similarity_join_ties_match_numpy_topk(spark):
    k = 7
    emb, queries = _tied_inputs(spark)
    got = sorted(
        (r.query_id, r.rank, r.vec_id, r.score)
        for r in similarity_join(emb, queries, k=k).collect()
    )
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    want = []
    for q in queries.collect():
        # sequential left fold, the same summation order as dot_product
        scores = np.add.accumulate(mat * np.asarray(q.query_vec, dtype=np.float64), axis=1)[:, -1]
        order = np.lexsort((ids, -scores))[:k]
        want += [
            (q.query_id, rank, int(ids[i]), float(scores[i]))
            for rank, i in enumerate(order, start=1)
        ]
    assert got == sorted(want)
