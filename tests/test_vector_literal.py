"""The one-literal float vector constant and the SQL-text KNN score:
bit-exact against the per-element form, folded to one constant by the
optimizer, and built in a number of py4j calls that does not grow with
the vector's dimension."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import py4j_commands
from vector_search_spark.functions.vector import dot_product, vector_literal
from vector_search_spark.operators.knn import score_by_dot
from vector_search_spark.sql import register_sql_surface
from tools.dump_plans import strip_ids

EDGE = [-0.0, 0.0, 5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
        math.nan, math.inf, -math.inf, 1 / 3, -2.5e-310, 0.1]


def _bits(xs) -> list[bytes]:
    return [struct.pack(">d", x) for x in xs]


def _optimized(df) -> str:
    return strip_ids(df._jdf.queryExecution().optimizedPlan().toString())


def test_vector_literal_bit_exact_on_edge_values(spark):
    per_elem = F.array(*[F.lit(x) for x in EDGE]).alias("q")
    row = spark.range(1).select(vector_literal(EDGE).alias("q"), per_elem.alias("p")).first()
    assert _bits(row["q"]) == _bits(row["p"]) == _bits(EDGE)
    assert spark.range(1).select(vector_literal([]).alias("q")).first()["q"] == []


def test_vector_literal_folds_to_one_literal(spark):
    mine = spark.range(1).select(vector_literal(EDGE).alias("q"))
    ref = spark.range(1).select(F.array(*[F.lit(x) for x in EDGE]).alias("q"))
    plan = _optimized(mine)
    assert "split(" not in plan and "cast(" not in plan.lower()
    assert plan == _optimized(ref)


def _emb(spark, dim: int, n: int = 40, seed: int = 3):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    rows.append((n, None))  # a null vector scores null
    return spark.createDataFrame(rows, "id long, embedding array<float>"), vecs


def test_score_by_dot_matches_per_element_fold_and_sql(spark):
    emb, vecs = _emb(spark, 384)
    q = [float(x) for x in np.random.default_rng(4).standard_normal(384)]
    got = {r["id"]: r["score"] for r in score_by_dot(emb, q).collect()}
    ref = {r["id"]: r["s"] for r in emb.select(
        "id", dot_product(F.col("embedding"), F.array(*[F.lit(x) for x in q])).alias("s")
    ).collect()}
    register_sql_surface(spark)
    emb.createOrReplaceTempView("vl_emb")
    sql = {r["id"]: r["s"] for r in spark.sql(
        "SELECT id, vss_dot(CAST(embedding AS ARRAY<DOUBLE>), array({})) AS s FROM vl_emb"
        .format(", ".join(f"CAST({x!r} AS DOUBLE)" for x in q))
    ).collect()}
    # the same left-to-right DOUBLE fold, recomputed in numpy
    seq = np.cumsum(vecs.astype(np.float64) * np.array(q), axis=1)[:, -1]
    assert got[len(vecs)] is None and ref[len(vecs)] is None
    del got[len(vecs)], ref[len(vecs)], sql[len(vecs)]
    assert _bits(got.values()) == _bits(ref.values()) == _bits(sql.values())
    assert _bits(got.values()) == _bits(seq)


def test_score_by_dot_rejects_a_query_of_the_wrong_length(spark):
    emb, _ = _emb(spark, 384)
    with pytest.raises(Exception, match=r"query vector has 383 dimensions.*has 384"):
        score_by_dot(emb, [0.1] * 383).collect()


def test_score_by_dot_py4j_commands_do_not_grow_with_dimension(spark):
    counts = {}
    for dim in (4, 384):
        emb, _ = _emb(spark, dim, n=2)
        q = [0.5] * dim
        with py4j_commands(spark) as n:
            score_by_dot(emb, q)
        counts[dim] = n[0]
    assert counts[4] == counts[384], counts
