"""``api.search_newsletter`` end to end over a small seeded synthetic
384-d index, against a numpy + hashlib recomputation of retrieve →
rerank → filter → sort → limit, plus the response's snippet and error
shapes and the request's py4j construction cost."""

from __future__ import annotations

import datetime as dt
import hashlib
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import py4j_commands
from vector_search_spark.api import search_newsletter

DIM, N = 384, 300


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    rng = random.Random(11)
    vecs = np.random.default_rng(11).standard_normal((N, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    start = dt.date(2016, 1, 1)
    dates = [(start + dt.timedelta(days=rng.randrange(2900))).isoformat() for _ in range(N)]
    words = [f"w{i}" for i in range(50)]
    # lengths straddle the 50-char snippet cut, both sides
    texts = [f"t{i} " + " ".join(rng.choices(words, k=rng.randint(1, 30))) for i in range(N)]
    table = pa.table({
        "chunk_id": [f"c{i:05d}" for i in range(N)],
        "title": [f"letter {d}" for d in dates],
        "date": dates,
        "category": [("idea", "quote", "question")[i % 3] for i in range(N)],
        "url": [f"https://example.org/{i}" for i in range(N)],
        "text": texts,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    path = str(tmp_path_factory.mktemp("search_api") / "index.parquet")
    pq.write_table(table, path)
    return spark.read.parquet(path), table.to_pydict(), vecs


def _round4(x: float) -> float:
    return float(np.floor(x * 10000 + 0.5) / 10000)


def _expected(cols, vecs, q, query, from_date, to_date, min_score, limit, k=50):
    # the engine's fold: float32 → double products summed left to right
    scores = np.cumsum(vecs.astype(np.float64) * q, axis=1)[:, -1]
    top = sorted(range(N), key=lambda i: (-scores[i], cols["chunk_id"][i]))[:k]
    rows = []
    for i in top:
        h = int(hashlib.md5(f"{query}|{cols['text'][i]}".encode()).hexdigest()[:8], 16)
        raw = (h % 100000) / 100000.0 * 8.0 - 4.0
        d = cols["date"][i]
        if raw >= min_score and (from_date or d) <= d <= (to_date or d):
            rows.append((-raw, cols["chunk_id"][i], i, raw))
    rows.sort()
    out = []
    for _, _, i, raw in rows[:limit]:
        t = cols["text"][i]
        out.append({
            "title": cols["title"][i], "date": cols["date"][i],
            "category": cols["category"][i], "url": cols["url"][i], "text": t,
            "snippet": t[:50] + "..." if len(t) > 50 else t, "score": _round4(raw),
        })
    return out


REQUESTS = [
    ("habits", None, None, -4.0, 10),
    ("identity", "2017-03-01", "2020-12-31", -4.0, 10),
    ("focus", "2018-01-01", None, 0.0, 5),
    ("learning", None, "2019-06-30", 1.0, 20),
]


@pytest.mark.parametrize("req", REQUESTS, ids=[r[0] for r in REQUESTS])
def test_search_newsletter_matches_recomputation(index, req):
    df, cols, vecs = index
    query, from_date, to_date, min_score, limit = req
    q = np.random.default_rng(sum(map(ord, query))).standard_normal(DIM)
    q /= np.linalg.norm(q)
    out = search_newsletter(df, [float(x) for x in q], query, from_date=from_date,
                            to_date=to_date, min_score=min_score, limit=limit)
    want = _expected(cols, vecs, q, query, from_date, to_date, min_score, limit)
    assert want, "the request should return rows"
    assert out == {
        "query": query,
        "filters": {"from_date": from_date, "to_date": to_date,
                    "min_score": min_score, "limit": limit},
        "total_results": len(want),
        "results": want,
    }


def test_search_newsletter_snippet_cut(index):
    df, _, _ = index
    out = search_newsletter(df, [1.0] + [0.0] * (DIM - 1), "x", min_score=-4.0,
                            limit=50, snippet_chars=30)
    assert out["total_results"] == 50
    for r in out["results"]:
        t = r["text"]
        assert r["snippet"] == (t[:30] + "..." if len(t) > 30 else t)
    assert any(len(r["text"]) > 30 for r in out["results"])
    assert any(len(r["text"]) <= 30 for r in out["results"])


def test_search_newsletter_bad_dates(index):
    df, _, _ = index
    q = [0.0] * DIM
    assert search_newsletter(df, q, "q", from_date="2024-13-99") == {
        "error": "Invalid from_date format: '2024-13-99'. Use YYYY-MM-DD."}
    assert search_newsletter(df, q, "q", to_date="yesterday") == {
        "error": "Invalid to_date format: 'yesterday'. Use YYYY-MM-DD."}


def test_search_newsletter_wrong_dimension_raises(index):
    df, _, _ = index
    with pytest.raises(Exception, match="query vector has 383 dimensions"):
        search_newsletter(df, [0.05] * (DIM - 1), "q", min_score=-4.0)


def test_search_newsletter_py4j_commands_per_request(spark, index):
    """Plan construction + collect of one request stays a few hundred py4j
    commands (one per-element literal form cost ~2,400 at 384-d)."""
    df, _, _ = index
    q = [float(x) for x in np.random.default_rng(5).standard_normal(DIM)]
    for i in range(2):
        with py4j_commands(spark) as n:
            search_newsletter(df, q, f"q{i}", min_score=-4.0)
        assert n[0] <= 500, n[0]
