"""The benchmark's workloads: ``batch`` and ``search``.

``batch`` runs three batch jobs back to back: the index build (markdown
-> chunks -> vectors -> partitioned index -> IVF), near-duplicate
detection over a document corpus, and a frozen sample of registry queries,
each built and collected cold, then collected warm.  ``search`` serves
requests against a prebuilt index, then runs one query batch through exact
and IVF top-k.

Each workload is one function ``(run, traced)`` that generates its inputs
from the seed, sets up (timed as ``setup_s``), runs its timed phase for
``run.seconds``, then checks every output against an independent
computation from ``checks``.  Untraced, the timed phase calls the
library's public functions exactly as a user would.  Traced, each layer's
output is materialised at its boundary inside a span, so that the layer's
Spark jobs land in its span; this changes the plans, so end-to-end metrics
come only from untraced runs.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import checks, gen
from .tracing import Span, Tracer, join_output_rows

OFF = Tracer(None, enabled=False)

DIM = 384
IVF_CENTROIDS = 16
IVF_REPLICAS = 2
JACCARD = 0.8
DUP_SHARE = 0.2
# The registry sample: the queries with ``crc32(name) % 32 == 0``, frozen by
# name.  It runs on a warehouse generated from a fixed seed, whatever the
# run's ``--seed``.
REGISTRY_SAMPLE = ("data_quality_audit", "part_type_revenue", "quality_filter_funnel",
                   "unigram_logprob", "value_quantile_sketch")
REGISTRY_SEED = 42
REGISTRY_WARM_REPS = 3
# Request latency keeps falling over the first requests of a fresh JVM (JIT
# of the plan-analysis path for the 384-literal query); set-up absorbs them.
WARM_REQUESTS = 6

# Input sizes: ``full`` for measurement, ``tiny`` for the self-test.
SIZES = {
    "full": {"issues": 200, "vectors": 10000, "batch_queries": 16, "docs": 3000, "warm_docs": 200},
    "tiny": {"issues": 12, "vectors": 400, "batch_queries": 4, "docs": 120, "warm_docs": 40},
}


@dataclass
class Run:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    sizes: dict
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    named: dict = field(default_factory=dict)  # workload-level metric -> (value, unit)
    slots: dict = field(default_factory=dict)  # gated generic metric -> value
    layers: dict = field(default_factory=dict)  # per-layer metric -> (value, unit)
    info: dict = field(default_factory=dict)  # disclosed input sizes and facts
    setup_s: float = 0.0

    def record_failure(self, op: str, problems: list[str]) -> None:
        self.failed += 1
        self.errors.append({"op": op, "problems": problems[:5]})


def root_cause(e: BaseException) -> str:
    """First line of the underlying Java exception, else of the Python one."""
    je = getattr(e, "java_exception", None)
    if je is not None:
        try:
            return je.toString().split("\n")[0][:300]
        except Exception:  # noqa: BLE001 - a dead gateway must not hide the error
            pass
    return f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"[:300]


def warm_page_cache(run: Run, files: list[str]) -> None:
    """Pull the inputs into the page cache.  (The Python worker pool starts
    in the set-up passes: every workload runs a pandas UDF there.)"""
    with run.tracer.span("session.warmup"):
        for path in files:
            with open(path, "rb") as f:
                while f.read(1 << 20):
                    pass


def _files_under(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _timed_loop(deadline: float, op, min_iters: int = 1) -> list[float]:
    """Call ``op(i)`` back to back while the next call is expected (from the
    median so far) to end by ``deadline``; wall time of each call."""
    times: list[float] = []
    i = 0
    while i < min_iters or time.perf_counter() + _median(times) <= deadline:
        t0 = time.perf_counter()
        op(i)
        times.append(time.perf_counter() - t0)
        i += 1
    return times


def _measure(run: Run, traced: bool, op, min_iters: int) -> list[float]:
    """Run ``op(i, traced)`` back to back for ``run.seconds``; wall time of
    each call.  A traced run spends the first half untraced and the second
    traced, reports the ratio of their medians as the tracing overhead and
    returns both halves."""
    if not traced:
        return _timed_loop(time.perf_counter() + run.seconds, lambda i: op(i, False), min_iters)
    half = run.seconds / 2
    plain = _timed_loop(time.perf_counter() + half, lambda i: op(i, False), min_iters)
    done = len(plain)
    spanned = _timed_loop(time.perf_counter() + half, lambda i: op(done + i, True), min_iters)
    run.layers["trace.overhead_ratio"] = (_median(spanned) / _median(plain), "ratio")
    return plain + spanned


def _layer_span_stats(tracer: Tracer, name: str) -> tuple[float, dict]:
    """Median duration of the spans called ``name`` and their summed counts
    per occurrence (sum over all occurrences / number of occurrences)."""
    spans = tracer.by_name(name)
    if not spans:
        return 0.0, {}
    keys = set().union(*(s.counts for s in spans))
    avg = {k: sum(s.counts.get(k, 0) for s in spans) / len(spans) for k in keys}
    return _median([s.dur for s in spans]), avg


def _subtree(tracer: Tracer, sp: Span) -> list[Span]:
    out = [sp]
    for s in tracer.spans:
        if s.parent is not None and s.parent in {x.span_id for x in out}:
            out.append(s)
    return out


# ---------------------------------------------------------------------------
# batch, first job: the index build
# ---------------------------------------------------------------------------
def _with_vec_id(df):
    from pyspark.sql import functions as F

    return df.select(
        F.conv(F.substring("chunk_id", 1, 15), 16, 10).cast("long").alias("vec_id"), "embedding"
    )


def _ingest_pass(run: Run, md_dir: str, out: str, traced: bool) -> None:
    from pyspark.sql import functions as F

    from vector_search_spark.encoders import HashEncoder
    from vector_search_spark.operators.ann import ivf_build, ivf_write_index
    from vector_search_spark.plans.ingest import build_chunks, build_index, write_index
    from vector_search_spark.sources.files import read_markdown_dir

    spark, tr = run.spark, run.tracer
    encoder = HashEncoder(dim=DIM)
    if not traced:
        write_index(build_index(read_markdown_dir(spark, md_dir), encoder), f"{out}/index")
        _, indexed = ivf_build(_with_vec_id(spark.read.parquet(f"{out}/index")),
                               n_centroids=IVF_CENTROIDS, replicas=IVF_REPLICAS)
        ivf_write_index(indexed, f"{out}/ivf")
        return
    with tr.span("sources"):
        docs = read_markdown_dir(spark, md_dir).persist()
        n_docs = docs.count()
    with tr.span("operators.chunker"):
        chunks = build_chunks(docs).persist()
        n_chunks = chunks.count()
    with tr.span("encoders"):
        embedded = chunks.withColumn("embedding", encoder.udf()(F.col("text"))).persist()
        embedded.count()
    # the spans split build_index into its two steps; fail the run if that
    # composition no longer yields build_index's table
    if embedded.schema != build_index(docs, encoder).schema:
        run.record_failure("traced ingest pass", ["schema differs from build_index's"])
    with tr.span("plans.ingest"):
        write_index(embedded, f"{out}/index")
    with tr.span("operators.ann.build"):
        _, indexed = ivf_build(_with_vec_id(spark.read.parquet(f"{out}/index")),
                               n_centroids=IVF_CENTROIDS, replicas=IVF_REPLICAS)
        ivf_write_index(indexed, f"{out}/ivf")
    for df in (embedded, chunks, docs):
        df.unpersist()
    run.info.setdefault("traced_chunks_per_doc", n_chunks / max(n_docs, 1))


def _check_ingest(run: Run, out: str, planted: dict) -> tuple[list[str], frozenset]:
    """Problems with one pass's index, and the pass's chunk ids (every pass
    over the same input, traced or not, must write the same chunks)."""
    from pyspark.sql import functions as F

    index = run.spark.read.parquet(f"{out}/index")
    rows = index.select("chunk_id", "category", "date", "embedding").collect()
    by_cat = {"idea": 0, "quote": 0, "question": 0}
    for r in rows:
        by_cat[r["category"]] = by_cat.get(r["category"], 0) + 1
    emb = np.array([r["embedding"] for r in rows], dtype=np.float64).reshape(len(rows), -1)
    ivf_rows = run.spark.read.parquet(f"{out}/ivf").select(F.lit(1)).count()
    return (checks.check_chunks(by_cat, {r["date"] for r in rows}, planted, emb, DIM,
                                ivf_rows, IVF_REPLICAS),
            frozenset(r["chunk_id"] for r in rows))


def _ingest_layers(run: Run, planted: dict, out: str | None) -> None:
    tr, L = run.tracer, run.layers
    read_s, rc = _layer_span_stats(tr, "sources")
    L["sources.read_s"] = (read_s, "s")
    L["sources.input_bytes"] = (rc.get("input_bytes", 0), "bytes")
    chunk_s, _ = _layer_span_stats(tr, "operators.chunker")
    L["operators.chunker.exec_s"] = (chunk_s, "s")
    L["operators.chunker.chunks_per_doc"] = (run.info.get("traced_chunks_per_doc", 0.0), "ratio")
    enc_s, ec = _layer_span_stats(tr, "encoders")
    L["encoders.exec_s"] = (enc_s, "s")
    L["encoders.rows_per_s"] = (planted["chunks"] / enc_s if enc_s else 0.0, "rows/s")
    L["encoders.executor_cpu_s"] = (ec.get("executor_cpu_ns", 0) / 1e9, "s")
    _ingest_write_layers(run, f"{out}/index" if out else None)


def _ingest_write_layers(run: Run, index_path: str | None) -> None:
    tr, L = run.tracer, run.layers
    if index_path:
        files = [f for f in _files_under(index_path) if f.endswith(".parquet")]
        L["plans.ingest.files_written"] = (len(files), "count")
    write_s, wc = _layer_span_stats(tr, "plans.ingest")
    L["plans.ingest.write_s"] = (write_s, "s")
    L["plans.ingest.output_bytes"] = (wc.get("output_bytes", 0), "bytes")
    L["plans.ingest.shuffle_write_bytes"] = (wc.get("shuffle_write_bytes", 0), "bytes")
    build_s, bc = _layer_span_stats(tr, "operators.ann.build")
    L["operators.ann.build_s"] = (build_s, "s")
    L["operators.ann.build_jobs"] = (bc.get("jobs", 0), "count")


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------
def _request_mix(n: int, seed: int) -> list[dict]:
    """Seeded search requests: date ranges of one to four years inside
    2016-2023, and ``min_score`` from no filter (-4) to strict (1)."""
    rng = random.Random(seed)
    qvecs = gen.unit_vectors(n, DIM, seed + 7).astype(np.float64)
    reqs = []
    for i in range(n):
        y0 = rng.randint(2016, 2023)
        y1 = min(2023, y0 + rng.randint(0, 3))
        reqs.append({
            "vec": qvecs[i],
            "text": gen.query_text(rng),
            "from_date": f"{y0}-{rng.randint(1, 12):02d}-01",
            "to_date": f"{y1}-12-31",
            "min_score": rng.choice((-4.0, -2.0, 0.0, 1.0)),
        })
    return reqs


def _traced_request(run: Run, index, req: dict, i: int) -> dict:
    """``api.search_newsletter`` with its construction, planning and
    execution split into spans: the plan builder it calls and the
    DataFrame collect it ends in are wrapped for the duration of the call."""
    from vector_search_spark import api

    tr = run.tracer
    frame = type(index)
    real_search, real_collect = api.search, frame.collect

    def search(*a, **kw):
        with tr.span("api.build"):
            return real_search(*a, **kw)

    def collect(df):
        with tr.span("api.plan"):
            df._jdf.queryExecution().executedPlan()
        with tr.span("api.exec"):
            return real_collect(df)

    api.search, frame.collect = search, collect
    try:
        with tr.span("api", op_id=f"req{i}"):
            return _request(index, req)
    finally:
        api.search, frame.collect = real_search, real_collect


def _request(index, req: dict) -> dict:
    from vector_search_spark import api

    return api.search_newsletter(
        index, [float(x) for x in req["vec"]], req["text"],
        from_date=req["from_date"], to_date=req["to_date"],
        min_score=req["min_score"], limit=10, k=50,
    )


def search(run: Run, traced: bool) -> None:
    from pyspark.sql import functions as F

    from vector_search_spark.operators.ann import ivf_build, ivf_query, ivf_read_index, ivf_write_index
    from vector_search_spark.operators.knn import similarity_join
    from vector_search_spark.plans.ingest import write_index

    spark, tr, sz = run.spark, run.tracer, run.sizes
    n, nq = sz["vectors"], sz["batch_queries"]
    cols, vecs = gen.search_index_rows(n, DIM, run.seed)
    src = f"{run.work}/src.parquet"
    table = pa.table({**cols, "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))})
    pq.write_table(table, src)
    mix = _request_mix(400, run.seed)
    batch = gen.unit_vectors(nq, DIM, run.seed + 11).astype(np.float64)
    run.info.update(vectors=n, dim=DIM, batch_queries=nq, index_years="2016-2023")

    t0 = time.perf_counter()
    warm_page_cache(run, [src])
    index_path, ivf_path = f"{run.work}/index", f"{run.work}/ivf"
    with tr.span("plans.ingest"):
        write_index(spark.read.parquet(src), index_path)
    index = spark.read.parquet(index_path)
    emb = index.select(F.substring("chunk_id", 2, 8).cast("long").alias("vec_id"), "embedding")
    with tr.span("operators.ann.build"):
        cent, indexed = ivf_build(emb, n_centroids=IVF_CENTROIDS, replicas=IVF_REPLICAS)
        ivf_write_index(indexed, ivf_path)
    ivf = ivf_read_index(spark, ivf_path)

    def queries(qs: np.ndarray):
        return spark.createDataFrame([(q, [float(x) for x in qs[q]]) for q in range(len(qs))],
                                     "query_id long, query_vec array<double>")

    def topk(qdf):
        return similarity_join(emb, qdf, k=10).select("query_id", "vec_id", "score")

    def ann(qdf):
        return ivf_query(ivf, cent, qdf, k=10, nprobe=4).select("query_id", "vec_id")

    with tr.span("session.warmup"):
        # the first calls of each operation compile its plans and warm the
        # JIT: pay them here, on a one-query batch and on requests outside
        # the timed mix
        warm = queries(batch[:1])
        topk(warm).collect()
        ann(warm).collect()
        for req in _request_mix(WARM_REQUESTS, run.seed + 13):
            _request(index, req)
    qdf = queries(batch)
    run.setup_s += time.perf_counter() - t0

    # (a) closed loop, one client: each request is sent when the last returns
    answers: list[tuple[int, dict | None]] = []

    def one(i: int, spans: bool) -> None:
        run.attempted += 1
        try:
            req = mix[i % len(mix)]
            res = _traced_request(run, index, req, i) if spans else _request(index, req)
        except Exception as e:  # noqa: BLE001 - a failed request is counted, the loop goes on
            run.record_failure(f"request {i}", [root_cause(e)])
            res = None
        answers.append((i, res))

    lat = _measure(run, traced, one, min_iters=5)

    # (b) one batch of queries through exact top-k, then through IVF
    topk_s = ann_s = 0.0
    topk_rows = ann_rows = None
    run.attempted += 2
    try:
        t = time.perf_counter()
        with tr.span("operators.knn", op_id="topk"):
            topk_df = topk(qdf)
            topk_rows = topk_df.collect()
        topk_s = time.perf_counter() - t
        if traced:
            run.info["knn_rows_scored"] = join_output_rows(topk_df)
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        run.record_failure("similarity_join", [root_cause(e)])
    try:
        t = time.perf_counter()
        with tr.span("operators.ann.query", op_id="ann"):
            ann_df = ann(qdf)
            ann_rows = ann_df.collect()
        ann_s = time.perf_counter() - t
        if traced:
            run.info["ann_rows_scored"] = join_output_rows(ann_df)
    except Exception as e:  # noqa: BLE001 - counted as a failed operation
        run.record_failure("ivf_query", [root_cause(e)])

    # checks: numpy float64 exact top-k and a hashlib rerank recomputation
    top50, _ = checks.exact_topk(vecs, np.array([mix[i % len(mix)]["vec"] for i, _ in answers]), 50)
    texts, dates, ids = cols["text"], cols["date"], cols["chunk_id"]
    for (i, res), top in zip(answers, top50):
        if res is None:
            continue
        r = mix[i % len(mix)]
        want = checks.expected_search(list(top), texts, dates, r["text"], r["from_date"],
                                      r["to_date"], r["min_score"], 10, ids)
        problems = checks.check_search(res, want, {texts[j] for j in top}, r["from_date"],
                                       r["to_date"], 10)
        if problems:
            run.record_failure(f"request {i} output", problems)
    top10, score10 = checks.exact_topk(vecs, batch, 10)
    recall = 0.0
    if topk_rows is not None:
        got: dict[int, list] = {}
        for row in sorted(topk_rows, key=lambda r: (r["query_id"], -r["score"], r["vec_id"])):
            got.setdefault(row["query_id"], []).append((row["vec_id"], row["score"]))
        problems = checks.check_topk(got, top10, score10)
        if problems:
            run.record_failure("similarity_join output", problems)
    if ann_rows is not None:
        hits: dict[int, list[int]] = {}
        for row in ann_rows:
            hits.setdefault(row["query_id"], []).append(row["vec_id"])
        if any(len(v) > 10 for v in hits.values()):
            run.record_failure("ivf_query output", ["more than k rows for a query"])
        recall = checks.recall_at_k(hits, top10)

    p = sorted(lat)
    run.info.update(requests=len(lat), p90_has_10_beyond=len(lat) >= 100,
                    latencies_s=[round(x, 4) for x in lat])
    run.named.update(
        search_p50_s=(_median(lat), "s"),
        search_p90_s=(p[min(len(p) - 1, int(0.9 * len(p)))], "s"),
        topk_queries_per_s=(nq / topk_s if topk_s else 0.0, "queries/s"),
        ann_queries_per_s=(nq / ann_s if ann_s else 0.0, "queries/s"),
        ann_recall_at_10=(recall, "ratio"),
    )
    run.slots["latency_s"] = _median(lat)
    if traced:
        _search_layers(run, nq, index_path)


def _search_layers(run: Run, nq: int, index_path: str) -> None:
    tr, L = run.tracer, run.layers
    _ingest_write_layers(run, index_path)
    knn_s, kc = _layer_span_stats(tr, "operators.knn")
    # rows scored: output rows of the query x corpus join, read from the
    # executed plan's SQL metrics; each one gets one DIM-long dot product
    rows_scored = run.info.get("knn_rows_scored", 0)
    L["operators.knn.exec_s"] = (knn_s, "s")
    L["operators.knn.rows_scored"] = (rows_scored, "count")
    L["operators.knn.shuffle_write_bytes"] = (kc.get("shuffle_write_bytes", 0), "bytes")
    L["functions.vector.dot_mults_per_s"] = (rows_scored * DIM / knn_s if knn_s else 0.0, "mults/s")
    q_s, _ = _layer_span_stats(tr, "operators.ann.query")
    L["operators.ann.query_s"] = (q_s, "s")
    L["operators.ann.rows_scored_per_query"] = (run.info.get("ann_rows_scored", 0) / nq, "count")
    reqs = tr.by_name("api")
    for part in ("build", "plan", "exec"):
        L[f"api.{part}_s"] = (_layer_span_stats(tr, f"api.{part}")[0], "s")
    jobs = [sum(s.counts.get("jobs", 0) for s in _subtree(tr, r)) for r in reqs]
    tasks = [sum(s.counts.get("tasks", 0) for s in _subtree(tr, r)) for r in reqs]
    L["api.jobs_per_request"] = (_median(jobs) if jobs else 0.0, "count")
    L["api.tasks_per_request"] = (_median(tasks) if tasks else 0.0, "count")


# ---------------------------------------------------------------------------
# batch, second job: near-duplicate detection
# ---------------------------------------------------------------------------
def _dedup_pass(run: Run, path: str, traced: bool, op_id: str) -> tuple[list, list, int]:
    """One pass: shingles -> MinHash -> LSH + exact-Jaccard cascade ->
    connected components.  Returns (pairs, labels, LSH candidates)."""
    from vector_search_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs, minhash_signatures, neardup_cascade, shingle_table,
    )

    spark = run.spark
    tr = run.tracer if traced else OFF
    docs = spark.read.parquet(path)
    n_cand = -1
    with tr.span("dedup.pass", op_id=op_id):
        with tr.span("operators.dedup.shingle", summaries=True):
            shingled = shingle_table(docs).persist()
            if traced:
                shingled.count()
        with tr.span("operators.dedup.minhash", summaries=True):
            sig = minhash_signatures(docs, shingled=shingled).persist()
            if traced:
                sig.count()
        cand = None
        if traced:
            with tr.span("operators.dedup.lsh", summaries=True):
                cand = minhash_lsh_pairs(docs, signatures=sig, shingled=shingled,
                                         min_est_jaccard=0.0).persist()
                n_cand = cand.count()
        with tr.span("operators.dedup.verify", summaries=True):
            pairs_df = neardup_cascade(docs, shingled=shingled, signatures=sig,
                                       candidates=cand, jaccard_threshold=JACCARD).persist()
            pairs = pairs_df.collect()
        with tr.span("operators.dedup.components", summaries=True):
            labels = connected_components(pairs_df).collect()
    for df in (pairs_df, cand, sig, shingled):
        if df is not None:
            df.unpersist()
    return pairs, labels, n_cand


def _dedup_layers(run: Run, results: list) -> None:
    tr, L = run.tracer, run.layers
    shuffle = spill = 0.0
    straggler = 0.0
    for stage in ("shingle", "minhash", "lsh", "verify", "components"):
        s, c = _layer_span_stats(tr, f"operators.dedup.{stage}")
        L[f"operators.dedup.{stage}_s"] = (s, "s")
        shuffle += c.get("shuffle_write_bytes", 0)
        spill += c.get("memory_spill_bytes", 0) + c.get("disk_spill_bytes", 0)
        straggler = max(straggler, c.get("max_task_over_median", 0.0))
        if stage == "components":
            L["operators.dedup.components_jobs"] = (c.get("jobs", 0), "count")
    L["operators.dedup.shuffle_write_bytes"] = (shuffle, "bytes")
    L["operators.dedup.spill_bytes"] = (spill, "bytes")
    L["operators.dedup.max_task_over_median"] = (straggler, "ratio")
    ratios = [r[2] / len(r[0]) for r in results if r is not None and r[0] and r[2] >= 0]
    L["operators.dedup.candidates_per_pair"] = (_median(ratios) if ratios else 0.0, "ratio")


# ---------------------------------------------------------------------------
# batch, third job: the registry sample
# ---------------------------------------------------------------------------
def _registry_pass(run: Run, path: str, traced: bool, op_id: str) -> tuple[dict, dict]:
    """Build each sampled query, collect it once (cold), then
    ``REGISTRY_WARM_REPS`` more times (warm).  ``path`` must be a warehouse
    no earlier pass used: the registry caches its shared artifacts per
    session and path, and a cold pass must build them.  Returns each
    query's collected rows (None if it failed) and timings."""
    from vector_search_spark import registry

    tr = run.tracer if traced else OFF
    rows: dict[str, list | None] = {}
    timings: dict[str, dict] = {}
    for name in REGISTRY_SAMPLE:
        run.attempted += 1
        rows[name] = None
        try:
            with tr.span("registry.query", op_id=f"{op_id}:{name}"):
                t0 = time.perf_counter()
                with tr.span("registry.build"):
                    df = registry.QUERIES[name](run.spark, path)
                t1 = time.perf_counter()
                if traced:
                    with tr.span("registry.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("registry.exec_first"):
                    got = df.collect()
                t2 = time.perf_counter()
                warm = []
                for _ in range(REGISTRY_WARM_REPS):
                    t = time.perf_counter()
                    with tr.span("registry.exec_warm"):
                        df.collect()
                    warm.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001 - a failed query is counted, the pass goes on
            run.record_failure(f"registry {name} ({op_id})", [root_cause(e)])
            continue
        rows[name] = [r.asDict() for r in got]
        timings[name] = {"build_s": t1 - t0, "cold_s": t2 - t0, "warm_s": _median(warm)}
    return rows, timings


def _registry_oracles(path: str) -> dict[str, list[tuple]]:
    """Each sampled query's ``registry.ORACLES`` SQL run by DuckDB over the
    same parquet files, as normalised rows (see ``checks.canonical_rows``)."""
    import duckdb

    from vector_search_spark import registry

    con = duckdb.connect()
    for f in sorted(os.listdir(path)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}/{f}'")
    out = {}
    for name in REGISTRY_SAMPLE:
        cur = con.execute(registry.ORACLES[name])
        cols = [d[0] for d in cur.description]
        out[name] = checks.canonical_rows([dict(zip(cols, r)) for r in cur.fetchall()])
    con.close()
    return out


def _registry_layers(run: Run, passes: int) -> None:
    """Per traced pass: summed over the sampled queries."""
    tr, L = run.tracer, run.layers
    per = max(passes, 1)

    def total(span: str, key: str | None = None) -> float:
        spans = tr.by_name(span)
        return sum(s.counts.get(key, 0) if key else s.dur for s in spans) / per

    L["registry.build_s"] = (total("registry.build"), "s")
    L["registry.build_jobs"] = (total("registry.build", "jobs"), "count")
    L["registry.plan_s"] = (total("registry.plan"), "s")
    L["registry.exec_first_s"] = (total("registry.exec_first"), "s")
    L["registry.exec_warm_s"] = (total("registry.exec_warm") / REGISTRY_WARM_REPS, "s")
    L["registry.stages"] = (total("registry.exec_first", "stages"), "count")
    cold = ("registry.build", "registry.exec_first")
    L["registry.shuffle_write_bytes"] = (sum(total(s, "shuffle_write_bytes") for s in cold), "bytes")
    L["registry.spill_bytes"] = (sum(total(s, "memory_spill_bytes") + total(s, "disk_spill_bytes")
                                     for s in cold), "bytes")


# ---------------------------------------------------------------------------
# batch: the index build, near-duplicate detection, the registry sample
# ---------------------------------------------------------------------------
def _dedup_inputs(n_docs: int, seed: int, path: str) -> tuple[dict, set]:
    rows, planted = gen.dedup_corpus(n_docs, DUP_SHARE, seed)
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}), path)
    return dict(rows), planted


def _check_dedup(res: tuple, texts: dict) -> list[str]:
    pairs, labels, _ = res
    edges = [(r["id_1"], r["id_2"]) for r in pairs]
    problems = checks.check_pairs([(r["id_1"], r["id_2"], r["jaccard"]) for r in pairs],
                                  texts, JACCARD)
    if {r["node"]: r["label"] for r in labels} != checks.union_find_labels(edges):
        problems.append("components differ from a union-find over the reported pairs")
    return problems


def batch(run: Run, traced: bool) -> None:
    sz, w = run.sizes, run.work
    md_dir, docs_path, wh = f"{w}/md", f"{w}/docs.parquet", f"{w}/warehouse"
    planted = gen.write_issues(md_dir, sz["issues"], run.seed)
    gen.write_issues(f"{w}/md_warm", max(4, sz["issues"] // 20), run.seed + 1)
    texts, dup_pairs = _dedup_inputs(sz["docs"], run.seed, docs_path)
    _dedup_inputs(sz["warm_docs"], run.seed + 1, f"{w}/docs_warm.parquet")
    wh_rows = gen.write_warehouse(wh, REGISTRY_SEED)
    run.info.update(issues=sz["issues"], chunks=planted["chunks"],
                    zero_chunk_issues=len(planted["zero_chunk_dates"]),
                    roman_in_prose_issues=planted["roman_in_prose_issues"],
                    markdown_bytes=planted["input_bytes"], docs=sz["docs"],
                    planted_dup_share=DUP_SHARE, planted_pairs=len(dup_pairs),
                    jaccard_threshold=JACCARD, registry_sample=list(REGISTRY_SAMPLE),
                    registry_warehouse_seed=REGISTRY_SEED, registry_warehouse_rows=wh_rows)

    t0 = time.perf_counter()
    warm_page_cache(run, _files_under(md_dir) + [docs_path] + _files_under(wh))
    with run.tracer.span("session.warmup"):
        # one small pass of each job compiles the plans the timed passes
        # run; the registry's queries are left cold, loading its modules is not
        from vector_search_spark import registry  # noqa: F401

        _ingest_pass(run, f"{w}/md_warm", f"{w}/out_warm", traced=False)
        _dedup_pass(run, f"{w}/docs_warm.parquet", False, "warm")
    run.setup_s += time.perf_counter() - t0

    outs: list[str | None] = []
    results: list[tuple | None] = []
    answers: list[dict] = []
    stage_s: list[tuple[float, float, float]] = []
    reg_times: list[dict] = []

    def one(i: int, spans: bool) -> None:
        out = f"{w}/out{i}"
        # a fresh copy per pass keeps the registry's artifact caches cold
        shutil.copytree(wh, f"{w}/warehouse{i}")
        run.attempted += 2
        t_ingest = t_dedup = float("nan")
        try:
            t = time.perf_counter()
            with (run.tracer if spans else OFF).span("ingest.pass", op_id=f"pass{i}"):
                _ingest_pass(run, md_dir, out, spans)
            t_ingest = time.perf_counter() - t
            outs.append(out)
        except Exception as e:  # noqa: BLE001 - a failed job is counted, the run goes on
            run.record_failure(f"ingest pass {i}", [root_cause(e)])
            outs.append(None)
        try:
            t = time.perf_counter()
            results.append(_dedup_pass(run, docs_path, spans, f"pass{i}"))
            t_dedup = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 - a failed job is counted, the run goes on
            run.record_failure(f"dedup pass {i}", [root_cause(e)])
            results.append(None)
        t = time.perf_counter()
        got, timing = _registry_pass(run, f"{w}/warehouse{i}", spans, f"pass{i}")
        answers.append(got)
        reg_times.append(timing)
        stage_s.append((t_ingest, t_dedup, time.perf_counter() - t))

    chunk_ids, pair_sets = set(), set()
    if traced:
        # One traced pass, its overhead measured on the dedup job alone
        # against an untraced run of it: an untraced reference of the whole
        # pass would double a traced run's length.
        t = time.perf_counter()
        reference = _dedup_pass(run, docs_path, False, "reference")
        plain_s = time.perf_counter() - t
        pair_sets.add(frozenset((r["id_1"], r["id_2"]) for r in reference[0]))
        times = _timed_loop(time.perf_counter() + run.seconds, lambda i: one(i, True))
        run.layers["trace.overhead_ratio"] = (_median([s[1] for s in stage_s]) / plain_s, "ratio")
    else:
        times = _measure(run, False, one, min_iters=1)

    # checks, outside the timed region; every pass reads the same inputs,
    # so the passes (traced or not) must also agree with each other
    found = 0
    for i, (out, res) in enumerate(zip(outs, results)):
        if out:
            problems, ids = _check_ingest(run, out, planted)
            chunk_ids.add(ids)
            if problems:
                run.record_failure(f"ingest pass {i} output", problems)
        if res is not None:
            problems = _check_dedup(res, texts)
            if problems:
                run.record_failure(f"dedup pass {i} output", problems)
            pairs = frozenset((r["id_1"], r["id_2"]) for r in res[0])
            pair_sets.add(pairs)
            found = len(pairs & dup_pairs)
    if len(chunk_ids) > 1:
        run.record_failure("ingest passes", ["passes wrote different chunks"])
    if len(pair_sets) > 1:
        run.record_failure("dedup passes", ["passes found different pairs"])
    oracle = _registry_oracles(wh)
    for i, got in enumerate(answers):
        for name, rows in got.items():
            if rows is not None and checks.canonical_rows(rows) != oracle[name]:
                run.record_failure(f"registry {name} (pass{i}) output",
                                   ["rows differ from registry.ORACLES run in DuckDB"])

    ok = [t for t, o, r, a in zip(times, outs, results, answers)
          if o and r is not None and None not in a.values()]
    run.info.update(passes=len(times), planted_pairs_found=found,
                    registry_queries=[{k: round(v, 4) for k, v in q.items()} | {"query": n}
                                      for timing in reg_times for n, q in timing.items()])
    ingest_s, dedup_s, _ = ([x for x in col if math.isfinite(x)] for col in zip(*stage_s))
    run.named["ingest_chunks_per_s"] = (planted["chunks"] / _median(ingest_s), "chunks/s")
    run.named["dedup_docs_per_s"] = (sz["docs"] / _median(dedup_s), "docs/s")
    run.named["registry_cold_s"] = (_median([sum(q["cold_s"] for q in t.values())
                                             for t in reg_times]), "s")
    run.named["registry_warm_s"] = (_median([sum(q["warm_s"] for q in t.values())
                                             for t in reg_times]), "s")
    run.slots["latency_s"] = _median(ok)
    if traced:
        _ingest_layers(run, planted, outs[-1])
        _dedup_layers(run, results)
        _registry_layers(run, len(run.tracer.by_name("ingest.pass")))


WORKLOADS = {"batch": batch, "search": search}
