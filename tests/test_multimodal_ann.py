"""Multimodal plumbing + ANN recall tests."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_TEST
from vector_search_spark.operators.ann import (
    ivf_build,
    ivf_probe_sweep_topk,
    ivf_query,
)
from vector_search_spark.operators.knn import similarity_join
from vector_search_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image_features,
    sample_frames,
    segment_audio,
)


def test_multimodal_decode_plumbing(spark):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").limit(50)
    feats = decode_image_features(attach_binary_payload(docs))
    rows = feats.collect()
    assert len(rows) == 50
    for r in rows[:5]:
        assert r["mime"] == "image/fake"
        assert r["n_bytes"] > 0 and r["width"] > 0 and r["height"] > 0
        assert len(r["features"]) == 16
    # determinism: same input -> same features
    again = decode_image_features(attach_binary_payload(docs)).collect()
    assert {r["doc_id"]: r["features"] for r in rows} == {
        r["doc_id"]: r["features"] for r in again
    }


def test_multimodal_strict_raises(spark):
    docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").limit(1)
    with pytest.raises(Exception, match="PIL"):
        decode_image_features(attach_binary_payload(docs), strict=True).collect()


def test_frame_sampling_native(spark):
    vids = spark.createDataFrame(
        [(1, 10.0, 30.0), (2, 1.0, 24.0)], "vid long, duration_sec double, fps double"
    )
    frames = sample_frames(vids, every_n=30).collect()
    v1 = [r for r in frames if r["vid"] == 1]
    assert [r["frame_index"] for r in v1] == [0, 30, 60, 90, 120, 150, 180, 210, 240, 270]
    assert v1[1]["frame_ts_sec"] == 1.0
    v2 = [r for r in frames if r["vid"] == 2]
    assert [r["frame_index"] for r in v2] == [0]


def test_audio_segmentation_native(spark):
    auds = spark.createDataFrame([(1, 70.0)], "aid long, duration_sec double")
    segs = segment_audio(auds, segment_sec=30, overlap_sec=5).collect()
    assert [(r["seg_start_sec"], r["seg_end_sec"]) for r in segs] == [
        (0, 30), (25, 55), (50, 70),
    ]


def test_ivf_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity_join(emb, queries, k=10)
    # fixture vectors are near-random (IVF's worst case) — nprobe/replicas
    # are set high here; clustered real embeddings reach 0.9+ at far lower
    # probe fractions
    cent_mat, indexed = ivf_build(emb, n_centroids=16, replicas=2)
    approx = ivf_query(indexed, cent_mat, queries, k=10, nprobe=8)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.9, recall
    # scored subset: every approx hit's score matches the exact dot product
    ex_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            assert abs(ex_scores[key] - r["score"]) < 1e-9


def test_ivf_empty_query_batch_returns_empty_frames(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
    cent_mat, indexed = ivf_build(emb, n_centroids=16, replicas=2)
    none = emb.filter(F.col("vec_id") < 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = ivf_query(indexed, cent_mat, none, k=10, nprobe=4)
    assert top.columns == ["query_id", "vec_id", "score", "rank"]
    assert top.collect() == []
    legs = ivf_probe_sweep_topk(indexed, cent_mat, none, sweep=(1, 4), k=10)
    assert legs.columns == ["nprobe", "query_id", "vec_id", "score", "rank"]
    assert legs.collect() == []


def test_ivf_build_on_corpus_smaller_than_replicas(spark):
    emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet").filter(
        F.col("vec_id") == 0
    )
    cent_mat, indexed = ivf_build(emb, n_centroids=16, replicas=2)
    assert cent_mat.shape[0] == 1
    assert [(r["vec_id"], r["cell"]) for r in indexed.collect()] == [(0, 0)]
    queries = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    hit = ivf_query(indexed, cent_mat, queries, k=10, nprobe=4).collect()
    assert [(r["query_id"], r["vec_id"], r["rank"]) for r in hit] == [(0, 0, 1)]


def test_srp_recall_vs_exact(spark):
    """SRP-LSH top-10 recall vs exact brute force, pinned ≥ 0.35.

    The synthetic corpus is ISOTROPIC — near-worst case for angular LSH
    (top-10 cosine ≈ 0.4 ⇒ bit-agreement 0.63 ⇒ P[some 4-bit band of 4
    matches] ≈ 0.5, vs ≈ 0.23 for a random pair).  On clustered real
    embeddings the neighbor/background gap, and hence recall, is far
    larger.  Correctness of WHAT SRP returns is the bit-exact
    `ann_srp_topk` oracle; this test only guards against recall
    regressions (e.g., a band-extraction bug returns ~0.23 random-level)."""
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import srp_topk
    from vector_search_spark.operators.knn import similarity_join
    from vector_search_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = srp_topk(emb, queries, k=10)
    exact = similarity_join(emb, queries, k=10)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(e) == 100
    assert len(a & e) / len(e) >= 0.35


def test_sq_recall_and_compression(spark):
    """Int8 SQ: codes land in [0, 255]; top-10 after exact rescore of the
    top-40 dequantized candidates recalls >= 0.9 of exact brute force,
    and every returned score IS the exact dot product (the rescore stage
    guarantees approximation error only affects candidate choice)."""
    from vector_search_spark.operators.ann import sq_code_table, sq_stats, sq_topk
    from vector_search_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    mins, scales = sq_stats(emb)
    assert len(mins) == 64 and all(s >= 0 for s in scales)
    codes = sq_code_table(emb, mins, scales)
    bounds = codes.select(
        F.min(F.array_min("codes")).alias("lo"), F.max(F.array_max("codes")).alias("hi")
    ).first()
    assert bounds["lo"] >= 0 and bounds["hi"] <= 255
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = sq_topk(codes, emb, queries, mins, scales, k=10, rescore=40)
    exact = similarity_join(emb, queries, k=10)
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    assert len(e) == 100
    assert len(a & e) / len(e) >= 0.9
    ex_scores = {(r["query_id"], r["vec_id"]): r["score"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["vec_id"])
        if key in ex_scores:
            assert abs(ex_scores[key] - r["score"]) < 1e-9


def test_pq_recall_floor(spark):
    """PQ@rescore-100 vs exact top-10: hash-sampled codebooks on this
    near-uniform synthetic corpus measure mean recall ≈ 0.81 / min 0.6;
    the floor leaves noise margin while catching assignment/LUT bugs."""
    from conftest import SF_TEST
    from vector_search_spark import registry
    from vector_search_spark.sources.tables import load_table
    from vector_search_spark.functions.vector import dot_product
    from pyspark.sql import Window, functions as F

    got = registry.QUERIES["ann_pq_topk"](spark, SF_TEST).collect()
    pq = {}
    for r in got:
        pq.setdefault(r["query_id"], set()).add(r["vec_id"])

    emb = load_table(spark, SF_TEST, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("raw"), F.asc("vec_id"))
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select("qid", "vec_id", dot_product("embedding", "qvec").alias("raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .collect()
    )
    truth = {}
    for r in exact:
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(pq[k] & truth[k]) / 10 for k in truth]
    assert len(recalls) == 20
    assert min(recalls) >= 0.45, recalls
    assert sum(recalls) / len(recalls) >= 0.7, recalls
