"""The two workloads. Each returns a ``Result``: end-to-end metrics
(measured untraced), per-layer metrics (measured only when a ``Tracer``
is given), op counts and correctness problems.

``ingest``: corpus, sync feed and a warm-up build and sync of a tenth
of them in set-up, then timed pairs of a warm ``build_index`` and a
``sync_docs`` on the index it built.

``query``: one big-shard index built in set-up and a warm-up of the
serving path, then a timed serving phase (warm ``IndexReader``, closed
loop, one client, Zipf query stream through
``serve_index.handle_request``) followed by a timed one-shot batch
phase (120-query mixed ``search_index`` calls).

Throughput is the work of one operation over its fastest timed run
(best of N, as ``bench.py`` reports): on a shared host a burst of
neighbour load slows every operation it overlaps, and the fastest run
is the one least touched. Latency is the median over the timed runs.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from dataclasses import dataclass, field

from . import checks, corpus

# index geometries
INGEST_GEOMETRY = dict(shard_size=250, shards_per_part=4, salt_chunk=50_000)
BIG_SHARD_GEOMETRY = dict(shard_size=65_536, shards_per_part=1,
                          salt_chunk=500_000)
K = 10
SERVE_SHARE = 0.7       # share of --seconds spent in the serving phase
WARM_REQUESTS = 5       # untimed serving requests before the timed ones
MIN_REQUESTS = 15
MIN_BATCHES = 3
CHECK_QUERIES = 8       # oracle-checked queries per phase


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)    # name -> (value, unit)
    layers: dict = field(default_factory=dict)     # name -> (value, unit)
    named: dict = field(default_factory=dict)      # README metric names
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    setup_s: float = 0.0
    peak_rss_mb: float = 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _count_files(path: str, suffix: str) -> int:
    return sum(1 for _, _, fs in os.walk(path) for f in fs
               if f.endswith(suffix))


def _write_inputs(ctx):
    """Materialize every seeded input row once; builds and syncs read
    the frozen parquet, never the generating expressions."""
    path = os.path.join(ctx.work, "inputs")
    corpus.corpus_frame(ctx.spark, ctx.seed).write.parquet(path)
    return ctx.spark.read.parquet(path)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def ingest(ctx) -> Result:
    from pyspark.sql import functions as F

    from oboyu_spark.operators.postings import build_index, sync_docs

    res = Result()
    work = ctx.work
    t = time.perf_counter()
    rows = _write_inputs(ctx)
    docs = rows.filter(corpus.in_corpus()).select("doc_id", "text")
    feed_all = rows.select("doc_id", F.col("feed_text").alias("text"), "change")
    feed = feed_all.filter(F.col("change") != "deleted").select("doc_id", "text")
    ctx.log("corpus and sync feed written")

    # warm-up, counted in setup_s: one build and one sync of a tenth of
    # the corpus and feed. A session's first build and sync pay class
    # loading, query-plan code generation and Python worker start-up
    # whatever their size; the timed ones below meet a warm session
    warm = corpus.warm_slice(ctx.seed)
    warm_idx = os.path.join(work, "idx_warm")
    build_index(docs.filter(warm), warm_idx, **INGEST_GEOMETRY)
    sync_docs(feed.filter(warm), warm_idx)
    res.setup_s = time.perf_counter() - t
    ctx.log("set-up done (corpus, sync feed, warm-up build and sync)")

    # timed: build + sync pairs until --seconds are spent, at least one;
    # each pair builds a fresh index and syncs the feed into it
    builds, syncs, outs, layers = [], [], [], []
    spent = 0.0
    while not builds or spent < ctx.seconds:
        idx = os.path.join(work, f"idx{len(builds)}")
        rec: dict = {}
        srec: dict = {}
        t0 = time.perf_counter()
        if ctx.tracer:
            with ctx.tracer.build(rec):
                meta = build_index(docs, idx, **INGEST_GEOMETRY)
        else:
            meta = build_index(docs, idx, **INGEST_GEOMETRY)
        t1 = time.perf_counter()
        with ctx.untimed():
            if not builds:
                index_bytes = _dir_bytes(idx)
                postings_files = _count_files(os.path.join(idx, "postings"),
                                              ".parquet")
            if ctx.tracer:
                layers.append(_build_layers(rec, idx, ctx.cores))
        t2 = time.perf_counter()
        if ctx.tracer:
            with ctx.tracer.sync(srec):
                out = sync_docs(feed, idx)
        else:
            out = sync_docs(feed, idx)
        t3 = time.perf_counter()
        builds.append(t1 - t0)
        syncs.append(t3 - t2)
        spent += (t1 - t0) + (t3 - t2)
        outs.append((meta, out))
        if ctx.tracer:
            layers[-1].update(_sync_layers(srec, out))
        ctx.log(f"build {builds[-1]:.2f}s, sync {syncs[-1]:.2f}s")
    res.attempted += 2 * len(builds)
    res.peak_rss_mb = ctx.peak_rss()

    # the oracle runs after the measured work, so its memory stays out
    # of peak_rss_mb
    with ctx.untimed():
        rows = docs.collect()
        text_bytes = sum(len((r["text"] or "").encode()) for r in rows)
        o = checks.oracle([(r["doc_id"], r["text"]) for r in rows])
        changes = [(r["doc_id"], r["text"], r["change"]) for r in
                   feed_all.filter(F.col("change") != "unchanged").collect()]
        want_build = checks.corpus_stats(o.doc_tfs)
        want_sync = checks.corpus_stats(checks.synced_tfs(o.doc_tfs, changes))
        want = {}
        for _, _, change in changes:
            want[change] = want.get(change, 0) + 1
        for meta, out in outs:
            bad = checks.stats_problems(want_build, meta)
            bad_sync = checks.stats_problems(want_sync, out["meta"])
            for key in ("new", "modified", "deleted"):
                if out[key] != want.get(key, 0):
                    bad_sync.append(f"sync {key}: engine {out[key]} != "
                                    f"feed {want.get(key, 0)}")
            res.problems += bad + bad_sync
            res.failed += bool(bad) + bool(bad_sync)

    n_docs = len(rows)
    build_s = min(builds)
    sync_s = statistics.median(syncs)
    res.metrics["throughput_per_s"] = (n_docs / build_s, "1/s")
    res.metrics["latency_p50_s"] = (sync_s, "s")
    res.metrics["index_bytes_per_text_byte"] = (index_bytes / text_bytes,
                                                "ratio")
    res.named.update({
        "build_docs_per_s": (n_docs / build_s, "docs/s"),
        "sync_s": (sync_s, "s"),
        "index_bytes_per_text_byte": (index_bytes / text_bytes, "ratio"),
        "build_s": (build_s, "s"),
        "build_median_s": (statistics.median(builds), "s"),
        "builds": (len(builds), "count"),
        "n_docs": (n_docs, "count"),
    })
    if ctx.tracer:
        # each layer figure is its median over the timed pairs
        for key, (_, unit) in layers[0].items():
            res.layers[key] = (statistics.median(lay[key][0] for lay in layers),
                               unit)
        res.layers["index.postings_files"] = (postings_files, "count")
    return res


def _build_layers(rec: dict, idx: str, cores: int) -> dict:
    out: dict = {}
    steps = {"tf_vocab": [], "encode": [], "docmap": []}
    mdir = os.path.join(idx, "manifest")
    for fn in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, fn)) as fh:
            m = json.load(fh)
        for key in steps:
            steps[key].append(float(m["step_seconds"].get(key, 0.0)))
    p = "build.postings."
    for key in ("stage", "parts_wall", "part_max", "finalize", "unattributed"):
        out[f"{p}{key}_s"] = (rec[key], "s")
    for key, vals in steps.items():
        out[f"{p}part.{key}_s"] = (max(vals), "s")
    busy, wall = rec["executor_busy_s"], rec["wall"]
    out[f"{p}shuffle_write_bytes"] = (rec["shuffle_write_bytes"], "bytes")
    out["build.spark.executor_busy_s"] = (busy, "s")
    out["build.spark.core_util"] = (busy / (wall * cores), "ratio")
    out["build.ledger_closure"] = (
        (wall - rec["unattributed"]) / wall, "ratio")
    return out


def _sync_layers(rec: dict, out: dict) -> dict:
    layers: dict = {}
    p = "sync.postings."
    layers[f"{p}diff_s"] = (rec["diff"], "s")
    for key in ("delete_docs", "append_docs", "compact_index"):
        layers[f"{p}{key}_s"] = (rec[key], "s")
    layers[f"{p}unattributed_s"] = (rec["unattributed"], "s")
    layers[f"{p}parts_rebuilt"] = (rec["parts_rebuilt"], "count")
    layers[f"{p}finalize_calls"] = (rec["finalize_calls"], "count")
    changed = out["new"] + out["modified"]
    layers[f"{p}useful_ratio"] = (
        changed / max(rec["docs_retokenized"], 1), "ratio")
    layers["sync.ledger_closure"] = (
        (rec["wall"] - rec["unattributed"]) / rec["wall"], "ratio")
    return layers


# ---------------------------------------------------------------------------
# query: serving phase + one-shot batch phase
# ---------------------------------------------------------------------------

def query(ctx) -> Result:
    from pyspark.sql import functions as F

    from oboyu_spark.jobs.serve_index import handle_request
    from oboyu_spark.operators import searchidx
    from oboyu_spark.operators.postings import build_index

    res = Result()
    spark, work = ctx.spark, ctx.work
    t = time.perf_counter()
    cdf = _write_inputs(ctx).filter(corpus.in_corpus())
    docs = cdf.select("doc_id", "text")
    idx = os.path.join(work, "idx_big")
    res.attempted += 1
    ctx.log("corpus written")
    meta = build_index(docs, idx, **BIG_SHARD_GEOMETRY)
    ctx.log("big-shard index built")
    wide_ids = corpus.wide_query_doc_ids(ctx.seed)
    wide = dict(cdf.filter(F.col("doc_id").isin(wide_ids))
                .select("doc_id", "text").collect())
    pool = corpus.serve_pool(ctx.seed, [wide[d] for d in wide_ids])
    stream = corpus.zipf_stream(pool, 4_000, ctx.seed)
    batch_q = corpus.batch_queries(ctx.seed)
    res.setup_s = time.perf_counter() - t
    ctx.log("set-up done (corpus, big-shard build)")

    # open: IndexReader(...) to the first answered request. Then, untimed
    # and counted in setup_s: the stream's next requests, up to
    # WARM_REQUESTS, warm the JVM and the Python workers, and one
    # batched search of the distinct queries among the stream's next
    # len(pool) requests leaves the reader's df and docmap caches as
    # serving them one by one would. The timed requests meet a server
    # past its first minutes, whose long tail still misses
    t = time.perf_counter()
    reader = searchidx.IndexReader(spark, idx)
    first = handle_request(reader, {"query": stream[0], "k": K,
                                    "scorer": "auto"})
    open_s = time.perf_counter() - t
    for q in stream[1:WARM_REQUESTS]:
        handle_request(reader, {"query": q, "k": K, "scorer": "auto"})
    warm = WARM_REQUESTS + len(pool)
    reader.search_rows(sorted(set(stream[WARM_REQUESTS:warm])), k=K,
                       scorer="auto")
    res.setup_s += time.perf_counter() - t
    ctx.log(f"reader open {open_s:.2f}s, warm-up done")
    res.attempted += 1
    if "error" in first:
        res.failed += 1
        res.problems.append(f"open: {first['error']}")

    # serving phase: closed loop, one client, no think time
    lat, answers, recs = [], [], []
    serve_budget = ctx.seconds * SERVE_SHARE
    spent = 0.0
    for q in stream[warm:]:
        if spent >= serve_budget and len(lat) >= MIN_REQUESTS:
            break
        req = {"query": q, "k": K, "scorer": "auto"}
        rec: dict = {}
        if ctx.tracer:
            n_df = len(reader._df_cache)
            t0 = time.perf_counter()
            with ctx.tracer.search(rec):
                resp = handle_request(reader, req)
            t1 = time.perf_counter()
            rec["df_misses"] = len(reader._df_cache) - n_df
            recs.append(rec)
        else:
            t0 = time.perf_counter()
            resp = handle_request(reader, req)
            t1 = time.perf_counter()
        lat.append(t1 - t0)
        spent += t1 - t0
        answers.append((q, resp))
    res.attempted += len(lat)
    ctx.log(f"served {len(lat)} requests (open {open_s:.2f}s): "
            + " ".join(f"{x:.3f}" for x in sorted(lat)))

    # batch phase: one-shot search_index over the same index
    batch_lat, batch_out, brecs = [], [], []
    spent = 0.0
    while len(batch_lat) < MIN_BATCHES or spent < ctx.seconds - serve_budget:
        rec = {}
        t0 = time.perf_counter()
        if ctx.tracer:
            with ctx.tracer.search(rec):
                out = searchidx.search_index(spark, idx, batch_q, k=K,
                                             scorer="auto").collect()
            brecs.append(rec)
        else:
            out = searchidx.search_index(spark, idx, batch_q, k=K,
                                         scorer="auto").collect()
        batch_lat.append(time.perf_counter() - t0)
        ctx.log(f"batch {len(batch_lat)}: {batch_lat[-1]:.2f}s")
        spent += batch_lat[-1]
        batch_out.append(out)
    res.attempted += len(batch_lat)
    ctx.log(f"ran {len(batch_lat)} batches")
    reader.close()
    res.peak_rss_mb = ctx.peak_rss()

    # the oracle runs after the measured work, so its memory stays out
    # of peak_rss_mb
    with ctx.untimed():
        index_bytes = _dir_bytes(idx)
        rows = docs.collect()
        text_bytes = sum(len((r["text"] or "").encode()) for r in rows)
        o = checks.oracle([(r["doc_id"], r["text"]) for r in rows])
        bad = checks.stats_problems(checks.corpus_stats(o.doc_tfs), meta)
        res.problems += bad
        res.failed += bool(bad)
        _check_serve(res, o, answers)
        _check_batch(res, o, batch_q, batch_out, ctx.seed)

    lat_sorted = sorted(lat)
    p50 = statistics.median(lat)
    batch_s = min(batch_lat)
    res.metrics["throughput_per_s"] = (len(batch_q) / batch_s, "1/s")
    res.metrics["latency_p50_s"] = (p50, "s")
    res.metrics["index_bytes_per_text_byte"] = (index_bytes / text_bytes,
                                                "ratio")
    res.named.update({
        "serve_p50_s": (p50, "s"),
        "serve_qps": (len(lat) / sum(lat), "1/s"),
        "serve_open_s": (open_s, "s"),
        "batch_qps": (len(batch_q) / batch_s, "1/s"),
        "batch_median_s": (statistics.median(batch_lat), "s"),
        "index_bytes_per_text_byte": (index_bytes / text_bytes, "ratio"),
        "serve_requests": (len(lat), "count"),
        "batches": (len(batch_lat), "count"),
    })
    # the highest percentile with at least ten samples beyond it
    tail = next((p for p in (99, 95, 90, 75)
                 if len(lat) * (100 - p) / 100 >= 10), None)
    if tail is not None:
        res.named[f"serve_p{tail}_s"] = (
            lat_sorted[int(len(lat) * tail / 100)], "s")
    if ctx.tracer:
        _search_layers(res, "serve", recs, per_query=True)
        # the first batch call is the session's first on that path
        _search_layers(res, "batch", brecs[1:], per_query=False,
                       n_parts=int(meta["n_parts"]),
                       results=len(batch_out[0]))
        res.layers["index.postings_files"] = (
            _count_files(os.path.join(idx, "postings"), ".parquet"), "count")
    return res


def _check_serve(res: Result, o, answers) -> None:
    checked: set[str] = set()
    for q, resp in answers:
        if "error" in resp:
            res.failed += 1
            res.problems.append(f"serve {q!r}: {resp['error']}")
            continue
        if q in checked or len(checked) >= CHECK_QUERIES:
            continue
        checked.add(q)
        got = [(r["doc_id"], r["score"]) for r in resp["results"]]
        bad = checks.topk_problems(o, q, got, K)
        res.problems += bad
        res.failed += bool(bad)


def _check_batch(res: Result, o, queries, outs, seed: int) -> None:
    import random

    def ranked(out):
        by_q: dict[int, list] = {}
        for r in out:
            by_q.setdefault(int(r["query_id"]), []).append(
                (r["doc_id"], float(r["score"])))
        return by_q

    first = ranked(outs[0])
    for i, out in enumerate(outs[1:], 1):
        if ranked(out) != first:
            res.failed += 1
            res.problems.append(f"batch {i} differs from batch 0")
    picks = random.Random(seed).sample(range(len(queries)), CHECK_QUERIES)
    bad = []
    for qid in sorted(picks):
        bad += checks.topk_problems(o, queries[qid], first.get(qid, []), K)
    res.problems += bad
    res.failed += bool(bad)


def _search_layers(res: Result, phase: str, recs: list[dict],
                   per_query: bool, n_parts: int = 1,
                   results: int = 0) -> None:
    """Mean per operation of each span. The time outside the search
    function is request handling on the serving path; on the one-shot
    path it is the result frame's collect, reported with the frame's
    creation as ``result_s``."""
    if not recs:
        return
    if per_query:
        res.layers[f"{phase}.serve_index.handler_s"] = (
            _mean(r["outer"] for r in recs), "s")
    else:
        res.layers[f"{phase}.searchidx.result_s"] = (
            _mean(r["outer"] + r["result"] for r in recs), "s")
    for key in ("tokenize", "df_lookup", "prune", "scatter", "gather",
                "hydrate", "unattributed"):
        res.layers[f"{phase}.searchidx.{key}_s"] = (
            _mean(r[key] for r in recs), "s")
    res.layers[f"{phase}.spark.plan_s"] = (_mean(r["plan"] for r in recs), "s")
    res.layers[f"{phase}.searchidx.taat_kernel_s"] = (
        _mean(r["taat_s"] for r in recs), "s")
    res.layers[f"{phase}.wand.bmw_kernel_s"] = (
        _mean(r["bmw_s"] for r in recs), "s")
    unit = "query" if per_query else "call"
    res.layers[f"{phase}.spark.jobs_per_{unit}"] = (
        _mean(r["jobs"] for r in recs), "count")
    res.layers[f"{phase}.spark.tasks_per_{unit}"] = (
        _mean(r["tasks"] for r in recs), "count")
    wall = _mean(r["wall"] for r in recs)
    res.layers[f"{phase}.ledger_closure"] = (
        (wall - _mean(r["unattributed"] for r in recs)) / wall, "ratio")
    if per_query:
        terms = sum(r["terms"] for r in recs)
        res.layers[f"{phase}.searchidx.df_cache_hit_ratio"] = (
            1 - sum(r["df_misses"] for r in recs) / max(terms, 1), "ratio")
        winners = sum(r["winners"] for r in recs)
        res.layers[f"{phase}.searchidx.docmap_cache_hit_ratio"] = (
            1 - sum(r["docmap_misses"] for r in recs) / max(winners, 1),
            "ratio")
    else:
        # a read of the postings root opens every part
        read = _mean(r["parts_read"] + r["root_postings_reads"] * n_parts
                     for r in recs)
        res.layers[f"{phase}.searchidx.parts_read_ratio"] = (
            read / max(n_parts, 1), "ratio")
        res.layers[f"{phase}.searchidx.rows_examined_per_result"] = (
            _mean(r["postings"] for r in recs) / max(results, 1), "ratio")
        routed = sum(r["queries_taat"] + r["queries_bmw"] for r in recs)
        res.layers[f"{phase}.searchidx.auto_bmw_share"] = (
            sum(r["queries_bmw"] for r in recs) / max(routed, 1), "ratio")
