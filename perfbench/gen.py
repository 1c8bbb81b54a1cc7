"""Seeded input generators for the benchmark workloads.

Every generator takes a ``random.Random``/NumPy seed and returns both the
input it writes and the facts it planted (counts, duplicate pairs), so the
output checks compare the engine against what was put in, not against the
engine itself.  The warehouse for the registry queries is the exception:
its queries are checked against their DuckDB oracles over the same files.
Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import string

import numpy as np

# Words are lowercase so generated prose never contains the chunker's
# roman-numeral split token ``[IVX]+\.`` except where it is planted.
_LETTERS = "abcdefghjklmnopqrstuwyz"


def _vocab(rng: random.Random, size: int, min_len: int = 3, max_len: int = 9) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_LETTERS) for _ in range(rng.randint(min_len, max_len))))
    return sorted(words)


def _sentence(rng: random.Random, vocab: list[str], n_min: int = 6, n_max: int = 14) -> str:
    return " ".join(rng.choice(vocab) for _ in range(rng.randint(n_min, n_max))) + "."


def _para(rng: random.Random, vocab: list[str], sentences: int) -> str:
    return " ".join(_sentence(rng, vocab) for _ in range(sentences))


_ROMAN = ("I", "II", "III")


def write_issues(out_dir: str, n_issues: int, seed: int) -> dict:
    """Write ``n_issues`` synthetic 3-2-1 newsletter issues as
    ``YYYY-MM-DD.md`` and return what the chunker must find in them.

    Planted edge cases: about 3% of issues use case-variant section headers
    (the chunker's case-sensitive match yields zero chunks for them) and
    about 10% carry a roman numeral followed by a dot inside idea prose,
    which the chunker's unanchored split turns into one extra idea chunk.
    """
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    names = [w.capitalize() for w in _vocab(rng, 200, 4, 8)]
    os.makedirs(out_dir, exist_ok=True)
    start = dt.date(2015, 1, 1)
    expected = {"idea": 0, "quote": 0, "question": 0}
    zero_chunk_dates = []
    roman = 0
    total_bytes = 0
    for i in range(n_issues):
        day = start + dt.timedelta(days=7 * i)
        variant = rng.random() < 0.03
        n_ideas = rng.randint(1, 3)
        n_quotes = rng.randint(1, 2)
        planted_roman = not variant and rng.random() < 0.10
        ideas = []
        for j in range(n_ideas):
            body = _para(rng, vocab, rng.randint(2, 4))
            if planted_roman and j == 0:
                body += f" {rng.choice(vocab)} in chapter IV. {_sentence(rng, vocab)}"
            ideas.append(f"{_ROMAN[j]}.\n{body}\n")
        quotes = []
        for j in range(n_quotes):
            who = f"{rng.choice(names)} {rng.choice(names)}"
            body = f"\"{_sentence(rng, vocab)}\""
            if rng.random() < 0.5:
                slug = "-".join(rng.choice(vocab) for _ in range(3))
                src = f"*Source:* [{who}](https://example.org/{slug})"
            else:
                src = f"*Source:* {who}"
            quotes.append(f"{_ROMAN[j]}.\n{body}\n{src}\n")
        h_idea, h_quote, h_question = (
            ("3 Ideas From Me", "2 Quotes From Others", "1 Question For You")
            if variant
            else ("3 IDEAS FROM ME", "2 QUOTES FROM OTHERS", "1 QUESTION FOR YOU")
        )
        title = " ".join(rng.choice(vocab) for _ in range(4)).capitalize()
        text = (
            f"# {title}\n\n"
            f"[Share this on Twitter](https://example.org/share/{i})\n\n"
            f"## {h_idea}\n\n" + "\n".join(ideas) + "\n---\n\n"
            f"## {h_quote}\n\n" + "\n".join(quotes) + "\n---\n\n"
            f"## {h_question}\n\n{_sentence(rng, vocab)[:-1]}?\n\n"
            "Until next week,\n\nJames Clear\n"
        )
        path = os.path.join(out_dir, f"{day.isoformat()}.md")
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)
        total_bytes += len(text.encode())
        if variant:
            zero_chunk_dates.append(day.isoformat())
            continue
        roman += planted_roman
        expected["idea"] += n_ideas + planted_roman
        expected["quote"] += n_quotes
        expected["question"] += 1
    return {
        "issues": n_issues,
        "zero_chunk_dates": zero_chunk_dates,
        "roman_in_prose_issues": roman,
        "chunks_by_category": expected,
        "chunks": sum(expected.values()),
        "input_bytes": total_bytes,
    }


def unit_vectors(n: int, dim: int, seed: int, clusters: int = 32) -> np.ndarray:
    """``n`` unit vectors drawn around ``clusters`` random centres, so the
    corpus has the cluster structure IVF partitioning relies on."""
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    which = rng.integers(0, clusters, n)
    vecs = centres[which] + 0.9 * rng.standard_normal((n, dim)) / np.sqrt(dim)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype(np.float32)


def search_index_rows(n: int, dim: int, seed: int) -> tuple[dict, np.ndarray]:
    """Columns of a chunks-with-vectors index table (the ``plans.search``
    input schema) over dates 2016-2023, plus the float32 vector matrix."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 2000)
    vecs = unit_vectors(n, dim, seed)
    start = dt.date(2016, 1, 1)
    span = (dt.date(2023, 12, 31) - start).days
    dates = [(start + dt.timedelta(days=rng.randrange(span))).isoformat() for _ in range(n)]
    cats = ("idea", "quote", "question")
    cols = {
        "chunk_id": [f"c{i:08d}" for i in range(n)],
        "title": [f"issue {d}" for d in dates],
        "date": dates,
        "category": [cats[i % 3] for i in range(n)],
        "url": [f"https://example.org/{d}" for d in dates],
        "text": [f"n{i} {_sentence(rng, vocab, 10, 20)}" for i in range(n)],
        "year": [int(d[:4]) for d in dates],
    }
    return cols, vecs


def dedup_corpus(n_docs: int, dup_share: float, seed: int) -> tuple[list[tuple[int, str]], set]:
    """``n_docs`` documents of 60-100 words; a ``dup_share`` fraction are
    near-duplicates of an earlier original with one or two words replaced
    (word-3-shingle Jaccard about 0.85-0.95).  Returns the rows and the
    planted (original, copy) id pairs."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 20000, 3, 10)
    n_dups = int(n_docs * dup_share)
    n_orig = n_docs - n_dups
    docs: list[list[str]] = [
        [rng.choice(vocab) for _ in range(rng.randint(60, 100))] for _ in range(n_orig)
    ]
    planted = set()
    for _ in range(n_dups):
        src = rng.randrange(n_orig)
        words = list(docs[src])
        for _ in range(rng.randint(1, 2)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        planted.add((src, len(docs)))
        docs.append(words)
    return [(i, " ".join(w)) for i, w in enumerate(docs)], planted


def query_text(rng: random.Random) -> str:
    return "".join(rng.choice(string.ascii_lowercase) for _ in range(12))


# ---------------------------------------------------------------------------
# A small TPC-H-like warehouse for the registry queries
# ---------------------------------------------------------------------------
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("cold", "small", "big", "red", "green", "blue", "steel", "brass")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("de", "en", "es", "fr", "zh")
_DOC_WORDS = (
    "spark data query row column table join filter sort merge hash scan window batch "
    "stream key value order part line customer vector agg group small big fast slow dup"
).split()
_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.datetime:
    d = lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))
    return dt.datetime(d.year, d.month, d.day)


def write_warehouse(out_dir: str, seed: int) -> dict:
    """Write the six tables the sampled registry queries read, at about the
    size of the engine's sf0.001 fixture, as ``{out_dir}/{table}.parquet``
    with that fixture's schemas: customer (150 rows), part (200), orders
    (1500), lineitem (about 6000), events (1000) and documents (500).
    Returns the row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    ts = pa.timestamp("us")
    n_cust, n_part, n_orders, n_supp = 150, 200, 1500, 10
    tables = {
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
            "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_PART_ADJ)} widget" for _ in range(n_part)],
            "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
            "p_type": [rng.choice(_PART_TYPES) for _ in range(n_part)],
            "p_size": pa.array([rng.randint(1, 50) for _ in range(n_part)], pa.int32()),
            "p_retailprice": [round(900.0 + 0.1 * i, 2) for i in range(n_part)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_orders)], pa.int64()),
            "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
            "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n_orders)],
            "o_orderdate": pa.array(
                [_day(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1)) for _ in range(n_orders)], ts),
            "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_orders)],
        }),
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        for line in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(18.0, 2100.0), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(_day(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4)))
    tables["lineitem"] = pa.table({
        **li,
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_shipdate": pa.array(li["l_shipdate"], ts),
    })
    n_events, t = 1000, dt.datetime(2024, 1, 1)
    stamps = []
    for _ in range(n_events):
        t += dt.timedelta(microseconds=rng.randrange(1, 5_000_000_000))
        stamps.append(t)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(stamps, ts),
        "user_id": pa.array([rng.randrange(15) for _ in range(n_events)], pa.int64()),
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0.01, 330.0), 2) for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_events)],
    })
    words = list(_DOC_WORDS) + list(_STOPWORDS)
    texts = [" ".join(rng.choice(words) for _ in range(rng.randint(8, 90))) for _ in range(500)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in texts],
        "source": [f"src{i}" for i in range(len(texts))],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
