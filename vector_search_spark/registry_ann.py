"""Registry entries: the approximate-nearest-neighbor family.

Every path of ``operators/ann.py`` runs here over the 20 standard query
vectors (vec_id < 20): IVF (plus its nprobe recall sweep), SRP-LSH (plus
its recall evaluation), int8-SQ (plus metadata-filtered search), PQ,
IVF-PQ and residual IVF-PQ.  Each index is a session-shared ``@artifact``
(the amortized build — at scale a persisted table), so a registered query
times the QUERY path, not an index rebuild.

IVF's Lloyd-refined centroids are not SQL-expressible, so its two entries
are rows-only checked (recall pinned in pytest).  Every other path is
built from md5-derived constants or min/max/floor math and has a
bit-exact DuckDB oracle — candidates AND ranks.  The PQ-family oracles are
assembled from the shared CTE fragments below, one per pipeline stage, as
``operators/ann.py`` writes each Spark stage once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .artifacts import artifact, persisted
from .functions.scalar import round4
from .operators.ann import (
    IVFPQ_CELLS,
    IVFPQ_NPROBE,
    IVFPQ_RESCORE,
    PQ_CODES,
    PQ_RESCORE,
    PQ_SD,
    PQ_SUB,
    coarse_assign,
    coarse_cells,
    ivf_build,
    ivf_probe_sweep_topk,
    ivf_query,
    ivfpq_residual_topk,
    ivfpq_topk,
    pq_codebook,
    pq_encode,
    pq_topk,
    residual_codebook,
    residual_table,
    sq_code_table,
    sq_stats,
    sq_topk,
    srp_band_table,
    srp_planes,
    srp_topk,
)
from .operators.knn import similarity_join
from .registry import register
from .sources.tables import load_table as __load


def _queries(emb: DataFrame, n: int = 20) -> DataFrame:
    """(query_id, query_vec): the corpus vectors with vec_id < n."""
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


# ---------------------------------------------------------------------------
# IVF: Lloyd-refined centroids, numpy assignment — rows-only checked.
# ---------------------------------------------------------------------------
@artifact
def _shared_ivf_index(spark: SparkSession, sf_dir: str):
    """(cent_mat, indexed): centroid sample + Lloyd refine + assignment —
    at 100 TB a persisted partitionBy(cell) table, in-session a persisted
    DataFrame."""
    emb = __load(spark, sf_dir, "embeddings")
    cent_mat, indexed = ivf_build(emb, n_centroids=16, replicas=2)
    return cent_mat, persisted(indexed)


def _ivf_queries(indexed: DataFrame) -> DataFrame:
    """The 20 standard queries drawn from the persisted index (no parquet
    re-scan; replicas deduped) — same vectors as the embeddings table."""
    return (
        indexed.filter(F.col("vec_id") < 20)
        .dropDuplicates(["vec_id"])
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    )


@register("ann_ivf_topk")
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 for 20 queries (deterministic centroids + Lloyd
    refinement; approximate ⇒ no SQL oracle, recall pinned in pytest)."""
    cent_mat, indexed = _shared_ivf_index(spark, sf_dir)
    out = ivf_query(indexed, cent_mat, _ivf_queries(indexed), k=10, nprobe=8)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


@register("ann_ivf_probe_sweep")
def q_ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe curve (VERDICT-r6 #5): recall@10 of the IVF
    path at nprobe ∈ {1, 2, 4, 8, 16} against exact KNN ground truth,
    for the 20 standard query vectors — the tuning curve an ANN
    deployment reads to pick its latency/recall operating point.  At
    nprobe = 16 every cell is probed, so recall MUST be exactly 1.0
    (probing all cells IS the exact scan) — pinned in pytest as the
    self-validating end of the curve, alongside monotonicity in nprobe.

    Rows-only (like `ann_ivf_topk`: Lloyd-refined centroids aren't
    SQL-expressible), but the output is exact rational arithmetic —
    matched/200 — so the values are deterministic and golden-pinnable.

    Scale: the sweep reuses the session-shared IVF index (the amortized
    build) and scores every probed cell ONCE (`ivf_probe_sweep_topk`):
    each query's 16 cells carry their probe rank, a candidate's ENTRY
    LEVEL is its minimum probe rank over the cells that contain it, and
    the five legs are `entry <= nprobe` filters of that one scored table.
    Each leg's top-10 equals `ivf_query(nprobe=n)` row-for-row (pinned in
    pytest).  Ground truth is one broadcast-queries exact scan, bounded by
    the query set.
    """
    emb = __load(spark, sf_dir, "embeddings")
    cent_mat, indexed = _shared_ivf_index(spark, sf_dir)
    queries = _ivf_queries(indexed)
    exact = similarity_join(emb, queries, k=10).select("query_id", "vec_id")
    sweep = (1, 2, 4, 8, 16)
    topk = ivf_probe_sweep_topk(indexed, cent_mat, queries, sweep=sweep, k=10).select(
        "nprobe", F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vec")
    )
    n_expected = 20 * 10
    return (
        exact.join(
            topk,
            (exact.query_id == topk.a_qid) & (exact.vec_id == topk.a_vec),
            "inner",
        )
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("matched"))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "matched",
            round4(F.col("matched") / float(n_expected)).alias("recall_at_10"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# SRP-LSH.  The oracle SQL is generated from the SAME md5-derived
# hyperplane constants the Spark operator uses (repr round-trips doubles
# exactly).  registry_extensions' SRP near-dup entries share them.
# ---------------------------------------------------------------------------
_SRP_BITS, _SRP_BANDS, _SRP_DIM = 16, 4, 64
_SRP_MASK = (1 << (_SRP_BITS // _SRP_BANDS)) - 1
_PLANES = srp_planes(_SRP_DIM, _SRP_BITS)

_SQL_SRP_SIG = " + ".join(
    "CASE WHEN list_dot_product(embedding::DOUBLE[], [{vals}]) >= 0 "
    "THEN {w}::BIGINT ELSE 0 END".format(
        vals=", ".join(repr(x) for x in plane), w=1 << b
    )
    for b, plane in enumerate(_PLANES)
)
_SQL_SRP_BANDS = ", ".join(
    f"(sig >> {i * (_SRP_BITS // _SRP_BANDS)}) & {_SRP_MASK} AS b{i}"
    for i in range(_SRP_BANDS)
)
# (query_id, vec_id) pairs agreeing on >= 1 band, for the 20 queries
_SQL_SRP_CANDS = """sig AS (
      SELECT vec_id, ({sig}) AS sig FROM embeddings),
    qb AS (SELECT vec_id AS query_id, {bands} FROM sig WHERE vec_id < 20),
    ib AS (SELECT vec_id, {bands} FROM sig),
    cand AS ({cand}),""".format(
    sig=_SQL_SRP_SIG,
    bands=_SQL_SRP_BANDS,
    cand=" UNION ".join(
        f"SELECT q.query_id, i.vec_id FROM qb q JOIN ib i ON q.b{i} = i.b{i}"
        for i in range(_SRP_BANDS)
    ),
)


@artifact
def _shared_srp_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side band table: the 16 hyperplane-projection folds are
    the build cost (a partitionBy(band) parquet at scale); the registered
    queries time banding 20 query vectors + candidate join + exact
    rescore."""
    emb = __load(spark, sf_dir, "embeddings")
    return persisted(
        srp_band_table(
            emb, "vec_id", "embedding", _SRP_BITS, _SRP_BANDS, dim=_SRP_DIM, spread=True
        )
    )


def _srp_top10(spark: SparkSession, sf_dir: str, emb: DataFrame, queries: DataFrame):
    return srp_topk(
        emb, queries, k=10, n_bits=_SRP_BITS, bands=_SRP_BANDS, dim=_SRP_DIM,
        index_bands=_shared_srp_index(spark, sf_dir),
    )


@register(
    "ann_srp_topk",
    oracle=f"""
    WITH {_SQL_SRP_CANDS}
    scored AS (
      SELECT c.query_id, c.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS raw
      FROM cand c
      JOIN embeddings e ON c.vec_id = e.vec_id
      JOIN embeddings q ON c.query_id = q.vec_id)
    SELECT query_id, vec_id,
           floor((raw)*10000 + 0.5)/10000.0 AS score,
           rank::INTEGER AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY raw DESC, vec_id) AS rank
          FROM scored)
    WHERE rank <= 10
    """,
)
def q_ann_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN top-10 for 20 queries: signed-random-projection band
    buckets → exact rescore.  The hyperplanes are md5-derived constants, so
    unlike IVF the whole approximate pipeline is SQL-expressible and this
    ANN entry is verified bit-exactly against DuckDB (candidates AND
    ranks), not just rows-only.  The corpus-side band table comes from the
    session-shared SRP index (amortized build, like IVF)."""
    emb = __load(spark, sf_dir, "embeddings")
    out = _srp_top10(spark, sf_dir, emb, _queries(emb))
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


@register(
    "ann_srp_recall_eval",
    oracle=f"""
    WITH {_SQL_SRP_CANDS}
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT c.query_id, c.vec_id,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 c.vec_id) AS rank
        FROM cand c
        JOIN embeddings e ON c.vec_id = e.vec_id
        JOIN embeddings q ON c.query_id = q.vec_id)
      WHERE rank <= 10),
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 20),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id) AS rank
        FROM embeddings e CROSS JOIN q)
      WHERE rank <= 10)
    SELECT x.query_id,
           count(a.vec_id)::BIGINT AS hits,
           floor((count(a.vec_id) / 10.0) * 10000 + 0.5) / 10000.0 AS recall_at_10
    FROM exact x
    LEFT JOIN approx a ON x.query_id = a.query_id AND x.vec_id = a.vec_id
    GROUP BY x.query_id
    ORDER BY x.query_id
    """,
)
def q_ann_srp_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation run INSIDE the engine: per-query recall@10
    of the SRP-LSH path against exact KNN ground truth — the health check
    an ANN deployment runs after every index rebuild (recall drift is how
    quantization/banding bugs and distribution shift surface in
    production).  Because BOTH pipelines are deterministic md5-math, the
    whole evaluation — candidates, ranks, hit counts — has a bit-exact
    DuckDB twin, which is exactly what makes this a trustworthy gate.

    Scale: ground truth is the broadcast-queries exact scan (bounded by
    the query set, not the corpus); the approx side reuses the
    session-shared SRP band table; the comparison is a narrow
    (query_id, vec_id) left join over 10·|queries| rows."""
    emb = __load(spark, sf_dir, "embeddings")
    queries = _queries(emb)
    approx = _srp_top10(spark, sf_dir, emb, queries).select(
        F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vec")
    )
    exact = similarity_join(emb, queries, k=10).select("query_id", "vec_id")
    return (
        exact.join(
            approx,
            (exact.query_id == approx.a_qid) & (exact.vec_id == approx.a_vec),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("a_vec").cast("long").alias("hits"))
        .select(
            "query_id",
            "hits",
            round4(F.col("hits") / 10.0).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization: min/max + floor math, oracle-exact.
# ---------------------------------------------------------------------------
@artifact
def _shared_sq_index(spark: SparkSession, sf_dir: str):
    """(mins, scales, codes): quantization constants + int8 codes — a
    packed-bytes parquet at scale; the registered queries time the
    approximate scan + exact rescore."""
    emb = __load(spark, sf_dir, "embeddings")
    mins, scales = sq_stats(emb)
    return mins, scales, persisted(sq_code_table(emb, mins, scales))


# Oracle fragments shared by the unfiltered and the filtered SQ search.
_SQL_SQ_STATS = """dims AS (SELECT unnest(range(1, 65)) AS j),
    st AS (
      SELECT j, min(embedding[j]::DOUBLE) AS mn, max(embedding[j]::DOUBLE) AS mx
      FROM embeddings, dims GROUP BY j),
    sc AS (SELECT j, mn, (mx - mn) / 255.0 AS s FROM st),"""


def _sql_sq_search(n_queries: int) -> str:
    """dql/q/ap/cand/ex CTEs + the final top-10 over the codes ``cd``."""
    return f"""dql AS (SELECT vec_id, list(mn + c * s ORDER BY j) AS dq FROM cd GROUP BY vec_id),
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < {n_queries}),
    ap AS (
      SELECT q.query_id, d.vec_id,
             list_dot_product(d.dq, q.embedding::DOUBLE[]) AS approx_score
      FROM dql d CROSS JOIN q),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY approx_score DESC, vec_id) AS cr
        FROM ap)
      WHERE cr <= 40),
    ex AS (
      SELECT c.query_id, c.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q2.embedding::DOUBLE[]) AS raw
      FROM cand c
      JOIN embeddings e ON c.vec_id = e.vec_id
      JOIN embeddings q2 ON c.query_id = q2.vec_id)
    SELECT query_id, vec_id,
           floor(raw * 10000 + 0.5) / 10000.0 AS score,
           rank::INTEGER AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY raw DESC, vec_id) AS rank
          FROM ex)
    WHERE rank <= 10
    """


@register(
    "ann_sq_topk",
    oracle=f"""
    WITH {_SQL_SQ_STATS}
    cd AS (
      SELECT vec_id, j, mn, s,
             CASE WHEN s = 0.0 THEN 0.0
                  ELSE least(255, greatest(0,
                         floor((embedding[j]::DOUBLE - mn) / s + 0.5))) END AS c
      FROM embeddings, sc),
    {_sql_sq_search(20)}""",
)
def q_ann_sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization ANN top-10 for 20 queries: per-dimension
    (min, scale) constants → int8 codes → dequantized approximate scan →
    exact rescore of the top 40.  The compression pipeline is pure
    min/max + floor math, so — like SRP and unlike IVF — the whole
    approximate path has a bit-exact DuckDB oracle (candidates AND ranks).
    The code table comes from the session-shared SQ index (amortized
    build; packed-bytes parquet at scale)."""
    emb = __load(spark, sf_dir, "embeddings")
    mins, scales, codes = _shared_sq_index(spark, sf_dir)
    out = sq_topk(codes, emb, _queries(emb), mins, scales, k=10, rescore=40)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


@register(
    "ann_filtered_topk",
    oracle=f"""
    WITH {_SQL_SQ_STATS}
    filt AS (SELECT vec_id FROM embeddings WHERE label BETWEEN 2 AND 5),
    cd AS (
      SELECT e.vec_id, sc.j, sc.mn, sc.s,
             CASE WHEN sc.s = 0.0 THEN 0.0
                  ELSE least(255, greatest(0,
                         floor((e.embedding[sc.j]::DOUBLE - sc.mn) / sc.s + 0.5))) END AS c
      FROM embeddings e JOIN filt f ON e.vec_id = f.vec_id, sc),
    {_sql_sq_search(10)}""",
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search (the production ANN shape: "nearest docs
    WHERE label ∈ [2,5]") on the int8-SQ path, done the correct way —
    PRE-filtering: the metadata predicate restricts the code table BEFORE
    the approximate scan, so top-k is always full (post-filtering an
    unfiltered top-k under-fills or misses matches — the classic filtered
    -ANN bug).  Quantization constants stay CORPUS-level: the index is
    built once and serves every predicate; only the probe is filtered.

    Scale: the predicate lands on a narrow (vec_id, label) join against
    the session-shared code table — at 100 TB, labels live alongside codes
    in the index parquet and the filter pushes down to the scan; the
    approximate pass then touches only surviving codes (broadcast queries,
    WindowGroupLimit top-40), and the exact rescore touches O(queries ×
    40) float vectors.  Bit-exact DuckDB twin for the whole pipeline."""
    emb = __load(spark, sf_dir, "embeddings")
    mins, scales, codes = _shared_sq_index(spark, sf_dir)
    keep = emb.filter(F.col("label").between(2, 5)).select("vec_id")
    fcodes = codes.join(keep, "vec_id")
    femb = emb.join(keep, "vec_id")
    out = sq_topk(fcodes, femb, _queries(emb, 10), mins, scales, k=10, rescore=40)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# The PQ family (PQ, IVF-PQ, residual IVF-PQ): hash-sampled codebooks and
# coarse cells keep every stage SQL-expressible.  Oracle CTE fragments,
# one per stage of operators/ann.py's pipeline:
#   ordered/cb/dist/codes  pq_codebook + pq_encode   (_SQL_PQ_CODES)
#   co_ordered/coarse      coarse_cells              (_SQL_COARSE)
#   q                      the query table           (_SQL_Q)
#   codes_long, lut_long   _codes_long, _lut_long    (_SQL_CODES_LONG, _sql_lut_long)
#   cand/exact + final     _rescore_topk             (_sql_rescore_tail)
# ---------------------------------------------------------------------------
def _pq_slice(expr: str, s: int) -> str:
    return f"({expr})[{s * PQ_SD + 1}:{(s + 1) * PQ_SD}]"


def _sql_pq_dists(vec: str, cvec: str) -> str:
    """d0..d{PQ_SUB-1}: per-subspace |c|² − 2v·c (pq_encode's identity)."""
    return ",\n             ".join(
        f"list_dot_product({_pq_slice(cvec, s)}, {_pq_slice(cvec, s)})"
        f" - 2.0 * list_dot_product({_pq_slice(vec, s)}, {_pq_slice(cvec, s)})"
        f" AS d{s}"
        for s in range(PQ_SUB)
    )


def _sql_coarse_d(vec: str) -> str:
    """|cen|² − 2v·cen against coarse cell ``co`` (coarse_assign's identity)."""
    return (
        "list_dot_product(co.cvec, co.cvec)"
        f" - 2.0 * list_dot_product({vec}, co.cvec)"
    )


def _sql_lut_long(cb: str) -> str:
    """Body of lut_long (qid, s, code, l) against codebook table ``cb``
    ("table" or "table alias")."""
    alias = cb.split()[-1]
    return "\n      UNION ALL ".join(
        f"SELECT q.qid, {s} AS s, {alias}.code, "
        f"list_dot_product({_pq_slice('q.qvec', s)}, {_pq_slice(f'{alias}.cvec', s)}) AS l "
        f"FROM q CROSS JOIN {cb}"
        for s in range(PQ_SUB)
    )


def _sql_rescore_tail(rescore: int) -> str:
    """cand/exact CTEs + the final top-10 over ``approx(vec_id, qid, a)``."""
    return f"""cand AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               row_number() OVER (PARTITION BY qid ORDER BY a DESC, vec_id) AS rn
        FROM approx)
      WHERE rn <= {rescore}),
    exact AS (
      SELECT cand.qid AS query_id, cand.vec_id,
             list_dot_product(e.embedding::DOUBLE[], qq.qvec) AS raw
      FROM cand
      JOIN embeddings e ON cand.vec_id = e.vec_id
      JOIN q qq ON cand.qid = qq.qid)
    SELECT query_id, vec_id,
           floor(raw*10000 + 0.5)/10000.0 AS score,
           rank::INTEGER AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY raw DESC, vec_id) AS rank
          FROM exact)
    WHERE rank <= 10
    """


_SQL_PQ_ARGMIN = ",\n             ".join(
    f"first(code ORDER BY d{s}, code) AS c{s}" for s in range(PQ_SUB)
)
_SQL_PQ_CODES = f"""ordered AS (
      SELECT embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT {PQ_CODES}),
    cb AS (
      SELECT row_number() OVER () - 1 AS code, cvec
      FROM ordered),
    dist AS (
      SELECT v.vec_id, cb.code,
             {_sql_pq_dists('v.embedding::DOUBLE[]', 'cb.cvec')}
      FROM embeddings v CROSS JOIN cb),
    codes AS (
      SELECT vec_id,
             {_SQL_PQ_ARGMIN}
      FROM dist GROUP BY vec_id),"""
_SQL_COARSE = f"""co_ordered AS (
      SELECT embedding::DOUBLE[] AS cvec
      FROM embeddings ORDER BY md5('ivf:' || vec_id::VARCHAR), vec_id
      LIMIT {IVFPQ_CELLS}),
    coarse AS (SELECT row_number() OVER () - 1 AS cell, cvec FROM co_ordered),"""
_SQL_Q = """q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
          FROM embeddings WHERE vec_id < 20),"""
_SQL_CODES_LONG = "\n      UNION ALL ".join(
    f"SELECT vec_id, {s} AS s, c{s} AS code FROM codes" for s in range(PQ_SUB)
)


@artifact
def _shared_pq_index(spark: SparkSession, sf_dir: str):
    """(codebook, codes) — at scale the codes table is the
    8-bytes-per-vector packed index one materializes next to the corpus."""
    emb = __load(spark, sf_dir, "embeddings")
    cb = persisted(pq_codebook(emb))
    return cb, persisted(pq_encode(emb, cb))


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH {_SQL_PQ_CODES}
    {_SQL_Q}
    codes_long AS (
      {_SQL_CODES_LONG}),
    lut_long AS (
      {_sql_lut_long('cb')}),
    approx AS (
      SELECT cl.vec_id, lu.qid,
             list_reduce(list_prepend(0.0, list(lu.l ORDER BY lu.s)),
                         (a, b) -> a + b) AS a
      FROM codes_long cl JOIN lut_long lu ON lu.s = cl.s AND lu.code = cl.code
      GROUP BY cl.vec_id, lu.qid),
    {_sql_rescore_tail(PQ_RESCORE)}""",
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ (product-quantization) ANN top-10 for 20 queries — the 4th ANN
    path, completing IVF / SRP-LSH / int8-SQ / PQ.  Hash-sampled
    codebooks keep the whole pipeline deterministic and SQL-expressible,
    so unlike textbook (Lloyd-trained) PQ this entry is verified
    BIT-EXACTLY against DuckDB: codebook choice, per-subspace code
    assignment, LUT scores, candidate set, and final ranks.  Recall floor
    pinned in pytest alongside.  Scale notes in operators/ann.py."""
    emb = __load(spark, sf_dir, "embeddings")
    cb, codes = _shared_pq_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = pq_topk(emb, codes, cb, queries, k=10)
    return out.select("query_id", "vec_id", round4("raw").alias("score"), "rank")


@artifact
def _shared_ivfpq_coarse(spark: SparkSession, sf_dir: str):
    """(cents, assign) — the coarse half of the IVF-PQ index; the fine
    half (codebook + codes) is _shared_pq_index.  At scale `assign` is the
    physical partitioning of the code table (write.partitionBy(cell)),
    built once per corpus snapshot."""
    emb = __load(spark, sf_dir, "embeddings")
    cents = persisted(coarse_cells(emb))
    return cents, persisted(coarse_assign(emb, cents))


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH {_SQL_PQ_CODES}
    {_SQL_COARSE}
    assign AS (
      SELECT v.vec_id, first(co.cell ORDER BY {_sql_coarse_d('v.embedding::DOUBLE[]')}, co.cell) AS cell
      FROM embeddings v CROSS JOIN coarse co GROUP BY v.vec_id),
    {_SQL_Q}
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.qid, co.cell,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY {_sql_coarse_d('q.qvec')}, co.cell) AS rn
        FROM q CROSS JOIN coarse co)
      WHERE rn <= {IVFPQ_NPROBE}),
    cand_ids AS (
      SELECT p.qid, a.vec_id FROM assign a JOIN probe p ON a.cell = p.cell),
    codes_long AS (
      {_SQL_CODES_LONG}),
    lut_long AS (
      {_sql_lut_long('cb')}),
    approx AS (
      SELECT cl.vec_id, c.qid,
             list_reduce(list_prepend(0.0, list(lu.l ORDER BY lu.s)),
                         (a, b) -> a + b) AS a
      FROM cand_ids c
      JOIN codes_long cl ON cl.vec_id = c.vec_id
      JOIN lut_long lu ON lu.qid = c.qid AND lu.s = cl.s AND lu.code = cl.code
      GROUP BY cl.vec_id, c.qid),
    {_sql_rescore_tail(IVFPQ_RESCORE)}""",
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN top-10 for 20 queries — the 5th ANN path
    (IVF / SRP-LSH / int8-SQ / PQ / IVF-PQ), and the FAISS-style layout a
    100 TB corpus actually deploys: coarse cells prune the scan to
    nprobe/cells of the corpus, PQ codes compress what remains to 8
    bytes/vector, exact rescore restores ranking fidelity on the
    short-list.  Hash-sampled coarse centroids keep every stage
    SQL-expressible, so the composition is verified BIT-EXACTLY against
    DuckDB (cells, probes, ADC scores, candidate set, final ranks) —
    recall floor pinned in pytest alongside.  Scale notes in
    operators/ann.py (partition-pruned cell layout, broadcast LUTs)."""
    emb = __load(spark, sf_dir, "embeddings")
    cb, codes = _shared_pq_index(spark, sf_dir)
    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivfpq_topk(emb, codes, cb, cents, assign, queries, k=10)
    return out.select("query_id", "vec_id", round4("raw").alias("score"), "rank")


@artifact
def _shared_ivfpq_residual_index(spark: SparkSession, sf_dir: str):
    """(rcb, rcodes) — the residual fine half of the IVF-PQ index: PQ
    codebook sampled from RESIDUAL rows (seed 'pqr:') and per-vector
    residual codes.  Built once per corpus snapshot, like the coarse half."""
    emb = __load(spark, sf_dir, "embeddings")
    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    resid = residual_table(emb, cents, assign)
    rcb = persisted(residual_codebook(resid))
    return rcb, persisted(pq_encode(resid, rcb, vec_col="rvec"))


@register(
    "ann_ivfpq_residual_topk",
    oracle=f"""
    WITH {_SQL_COARSE}
    assign AS MATERIALIZED (
      SELECT v.vec_id, first(co.cell ORDER BY {_sql_coarse_d('v.embedding::DOUBLE[]')}, co.cell) AS cell
      FROM embeddings v CROSS JOIN coarse co GROUP BY v.vec_id),
    resid AS MATERIALIZED (
      SELECT v.vec_id, a.cell,
             list_transform(v.embedding::DOUBLE[], (x, i) -> x - co.cvec[i])
               AS rvec
      FROM embeddings v
      JOIN assign a ON v.vec_id = a.vec_id
      JOIN coarse co ON a.cell = co.cell),
    rcb_ordered AS (
      SELECT rvec AS cvec FROM resid
      ORDER BY md5('pqr:' || vec_id::VARCHAR), vec_id LIMIT {PQ_CODES}),
    rcb AS (SELECT row_number() OVER () - 1 AS code, cvec FROM rcb_ordered),
    dist AS (
      SELECT r.vec_id, rc.code,
             {_sql_pq_dists('r.rvec', 'rc.cvec')}
      FROM resid r CROSS JOIN rcb rc),
    codes AS MATERIALIZED (
      SELECT vec_id,
             {_SQL_PQ_ARGMIN}
      FROM dist GROUP BY vec_id),
    {_SQL_Q}
    probe AS (
      SELECT qid, cell, qcen FROM (
        SELECT q.qid, co.cell,
               list_dot_product(q.qvec, co.cvec) AS qcen,
               row_number() OVER (PARTITION BY q.qid
                                  ORDER BY {_sql_coarse_d('q.qvec')}, co.cell) AS rn
        FROM q CROSS JOIN coarse co)
      WHERE rn <= {IVFPQ_NPROBE}),
    cand_ids AS (
      SELECT p.qid, a.vec_id, p.qcen
      FROM assign a JOIN probe p ON a.cell = p.cell),
    codes_long AS (
      {_SQL_CODES_LONG}),
    lut_long AS (
      {_sql_lut_long('rcb rc')}),
    approx AS (
      SELECT cl.vec_id, c.qid,
             list_reduce(list_prepend(c.qcen, list(lu.l ORDER BY lu.s)),
                         (a, b) -> a + b) AS a
      FROM cand_ids c
      JOIN codes_long cl ON cl.vec_id = c.vec_id
      JOIN lut_long lu ON lu.qid = c.qid AND lu.s = cl.s AND lu.code = cl.code
      GROUP BY cl.vec_id, c.qid, c.qcen),
    {_sql_rescore_tail(IVFPQ_RESCORE)}""",
)
def q_ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ ANN top-10 for 20 queries — `ann_ivfpq_topk` with
    the PQ codes quantizing (vector − coarse centroid) instead of the raw
    vector, which is what FAISS's "IVFx,PQy" actually stores: residuals
    concentrate near 0, so the same 8-byte code budget resolves
    within-cell geometry instead of re-encoding the cell's position —
    the property that keeps recall up at high compression.  ADC scores
    decompose exactly as q·cen(cell) + Σ LUT[s, code] (the base term
    rides along from the probe), so the whole path — residuals, residual
    codebook, codes, probes, ADC, ranks — stays SQL-expressible and is
    verified BIT-EXACTLY against DuckDB; the recall floor vs the
    non-residual path on the same probe/rescore budget is pinned in
    pytest.  Scale notes in operators/ann.py."""
    emb = __load(spark, sf_dir, "embeddings")
    cents, assign = _shared_ivfpq_coarse(spark, sf_dir)
    rcb, rcodes = _shared_ivfpq_residual_index(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20)
    out = ivfpq_residual_topk(emb, rcodes, rcb, cents, assign, queries, k=10)
    return out.select("query_id", "vec_id", round4("raw").alias("score"), "rank")
