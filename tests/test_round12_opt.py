"""Round-12 optimization gates.

- `ivf_probe_sweep_topk` (the shared sweep/ivf_query probe model,
  ADVICE r11): every sweep leg must equal `ivf_query(k, nprobe=n)`
  row-for-row — candidate set, scores AND ranks.
- `global_dense_rank` (the suffix-pyramid level rank, round 12): must
  equal a reference dense_rank over the same total order, including
  groups that span range-partition boundaries.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from conftest import SF_SMOKE  # noqa: E402


def test_global_dense_rank_matches_reference_dense_rank(spark):
    """__dense must equal DENSE_RANK() over (key asc) for every row, for
    skewed group sizes and with few rows per range partition so groups
    straddle partition boundaries (the boundary-merge correction path)."""
    import itertools

    from pyspark.sql import Window

    from vector_search_spark.partitioning import global_dense_rank

    # skewed groups: key g repeated g*7 % 23 + 1 times, shuffled ids
    rows = []
    rid = 0
    for g in range(40):
        for _ in range((g * 7) % 23 + 1):
            rows.append((g, rid))
            rid += 1
    df = spark.createDataFrame(rows, "k int, tid int").repartition(7)
    for num_ranges in (1, 3, 32):
        got = {
            (r.k, r.tid): r["__dense"]
            for r in global_dense_rank(
                df, ["k"], ["tid"], num_ranges=num_ranges
            ).collect()
        }
        ref = {
            (r.k, r.tid): r.ref
            for r in df.withColumn(
                "ref", F.dense_rank().over(Window.orderBy("k"))
            ).collect()
        }
        assert got == ref, f"num_ranges={num_ranges}"

    # two-column keys with ties on the first column; each (a, b) group
    # holds 1-4 rows, so groups are genuinely composite
    rows2 = [
        (a, b)
        for a, b in itertools.product(range(6), range(5))
        for _ in range((a * b) % 4 + 1)
    ]
    df2 = spark.createDataFrame(
        [(a, b, tid) for tid, (a, b) in enumerate(rows2)], "a int, b int, tid int"
    ).repartition(7)
    ref2 = {
        (r.a, r.b, r.tid): r.ref
        for r in df2.withColumn(
            "ref", F.dense_rank().over(Window.orderBy("a", "b"))
        ).collect()
    }
    for num_ranges in (1, 3, 32):
        got2 = {
            (r.a, r.b, r.tid): r["__dense"]
            for r in global_dense_rank(
                df2, ["a", "b"], ["tid"], num_ranges=num_ranges
            ).collect()
        }
        assert got2 == ref2, f"num_ranges={num_ranges}"


def test_probe_sweep_legs_equal_single_leg_ivf_query(spark):
    from vector_search_spark.operators.ann import ivf_probe_sweep_topk, ivf_query
    from vector_search_spark.registry_ann import _shared_ivf_index

    cent_mat, indexed = _shared_ivf_index(spark, SF_SMOKE)
    queries = (
        indexed.filter(F.col("vec_id") < 20)
        .dropDuplicates(["vec_id"])
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )
    sweep = (1, 2, 4, 8, 16)
    legs = ivf_probe_sweep_topk(indexed, cent_mat, queries, sweep=sweep, k=10)
    got = {n: [] for n in sweep}
    for r in legs.collect():
        got[r["nprobe"]].append(
            (r["query_id"], r["vec_id"], round(r["score"], 12), r["rank"])
        )
    for n in sweep:
        single = [
            (r["query_id"], r["vec_id"], round(r["score"], 12), r["rank"])
            for r in ivf_query(indexed, cent_mat, queries, k=10, nprobe=n).collect()
        ]
        assert sorted(got[n]) == sorted(single), f"leg nprobe={n} diverged"
