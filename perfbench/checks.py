"""Independent computations the engine's outputs are checked against.

Each check returns a list of problems (empty when the output is right).
They use NumPy, hashlib and plain Python, never the engine, and run
outside the timed region.
"""

from __future__ import annotations

import hashlib

import numpy as np


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Row indices and float64 scores of each query's top ``k`` by dot
    product, ties broken by the smaller index."""
    scores = queries.astype(np.float64) @ corpus.astype(np.float64).T
    order = np.lexsort((np.broadcast_to(np.arange(corpus.shape[0]), scores.shape), -scores), axis=1)
    top = order[:, :k]
    return top, np.take_along_axis(scores, top, axis=1)


def check_topk(got: dict[int, list[tuple[int, float]]], top: np.ndarray, scores: np.ndarray,
               tol: float = 1e-9) -> list[str]:
    """``got[q]`` is the engine's (row index, score) list in rank order."""
    problems = []
    for q in range(top.shape[0]):
        rows = got.get(q, [])
        want = [int(i) for i in top[q]]
        if [i for i, _ in rows] == want:
            bad = [s for (_, s), w in zip(rows, scores[q]) if abs(s - w) > tol]
            if bad:
                problems.append(f"query {q}: scores differ from float64 numpy")
            continue
        # accept a reordering only among scores equal within tolerance
        if len(rows) != len(want) or any(
            abs(s - w) > tol for (_, s), w in zip(rows, scores[q])
        ):
            problems.append(f"query {q}: top-{len(want)} differs from numpy exact")
    return problems


def rerank_score(query: str, text: str) -> float:
    """The engine's deterministic rerank logit (``hash_rerank_score``)."""
    h = int(hashlib.md5(f"{query}|{text}".encode()).hexdigest()[:8], 16)
    return (h % 100000) / 100000.0 * 8.0 - 4.0


def round4(x: float) -> float:
    return float(np.floor(x * 10000 + 0.5) / 10000)


def expected_search(top50: list[int], texts: list[str], dates: list[str], query: str,
                    from_date: str, to_date: str, min_score: float, limit: int,
                    ids: list[str]) -> list[tuple[str, float]]:
    """``search_newsletter``'s result as (text, score): retrieve the exact
    top-50, rerank, filter by score and date, sort, cut to ``limit``."""
    cands = []
    for i in top50:
        raw = rerank_score(query, texts[i])
        if raw >= min_score and from_date <= dates[i] <= to_date:
            cands.append((-raw, ids[i], texts[i], raw))
    cands.sort()
    return [(t, round4(s)) for _, _, t, s in cands[:limit]]


def check_search(result: dict, expected: list[tuple[str, float]], allowed_texts: set,
                 from_date: str, to_date: str, limit: int) -> list[str]:
    rows = result.get("results")
    if rows is None:
        return [f"error response: {result.get('error')}"]
    problems = []
    if len(rows) > limit:
        problems.append(f"{len(rows)} rows > limit {limit}")
    scores = [r["score"] for r in rows]
    if scores != sorted(scores, reverse=True):
        problems.append("scores not sorted descending")
    if any(not (from_date <= r["date"] <= to_date) for r in rows):
        problems.append("row outside the date range")
    if any(r["text"] not in allowed_texts for r in rows):
        problems.append("row not among the numpy top-50")
    got = [(r["text"], r["score"]) for r in rows]
    if [t for t, _ in got] != [t for t, _ in expected] or any(
        abs(a - b) > 1e-9 for (_, a), (_, b) in zip(got, expected)
    ):
        problems.append("rows differ from the numpy/hashlib recomputation")
    return problems


def recall_at_k(got: dict[int, list[int]], top: np.ndarray) -> float:
    hits = sum(len(set(got.get(q, [])) & set(int(i) for i in top[q])) for q in range(top.shape[0]))
    return hits / top.size


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def check_pairs(pairs: list[tuple[int, int, float]], texts: dict[int, str], threshold: float,
                n: int = 3) -> list[str]:
    problems = []
    for a, b, jac in pairs:
        sa, sb = shingles(texts[a], n), shingles(texts[b], n)
        want = len(sa & sb) / len(sa | sb)
        if a >= b or want < threshold or abs(want - jac) > 1e-9:
            problems.append(f"pair ({a}, {b}): jaccard {jac} vs recomputed {want}")
    return problems


def union_find_labels(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def canonical_rows(rows: list[dict]) -> list[tuple]:
    """Rows as tuples of (column, value) in column-name order, floats
    rounded to 4 places, sorted with None-safe keys: the form in which a
    registry query's output is compared with its DuckDB oracle."""
    def norm(v):
        return round(v, 4) if isinstance(v, float) else v

    out = [tuple((c, norm(r[c])) for c in sorted(r)) for r in rows]
    return sorted(out, key=lambda row: tuple((v is None, str(v)) for _, v in row))


def check_chunks(by_category: dict[str, int], dates_with_chunks: set, planted: dict,
                 embeddings: np.ndarray, dim: int, ivf_rows: int, replicas: int) -> list[str]:
    problems = []
    if by_category != planted["chunks_by_category"]:
        problems.append(f"chunks by category {by_category} != planted {planted['chunks_by_category']}")
    if dates_with_chunks & set(planted["zero_chunk_dates"]):
        problems.append("a case-variant-header issue produced chunks")
    if embeddings.shape != (planted["chunks"], dim):
        problems.append(f"embedding matrix {embeddings.shape} != ({planted['chunks']}, {dim})")
    elif np.abs(np.linalg.norm(embeddings, axis=1) - 1.0).max() > 1e-9:
        problems.append("embedding not unit norm")
    if ivf_rows != replicas * planted["chunks"]:
        problems.append(f"IVF rows {ivf_rows} != {replicas} x {planted['chunks']}")
    return problems
