"""Per-layer tracing from OUTSIDE the engine.

The tracer wraps the engine's layer entry points at their module
attribute (the name the engine's own code looks up at call time), plus
the pyspark calls the engine makes on the search path
(``DataFrame.collect``, ``DataFrameReader.parquet``,
``GroupedData.applyInPandas``, ``SparkSession.createDataFrame`` and the
plan-building calls below), so every span is a timestamp pair taken at
a function boundary; no engine file changes. Nothing is
wrapped unless ``--trace 1``: the end-to-end run executes the
unmodified functions.

A search (one ``IndexReader.search_rows`` or ``search_index`` call) is
split into self times: each wrapped call's own start-to-end minus the
wrapped calls it made. The span a call counts under:

    tokenize   py_tokenize, spark_xxhash64_str* (tokenize, hash)
    df_lookup  vocabulary relation and collect() before the scorer
               factory (absent when the df cache answered)
    prune      make_*_scorer factories, load_tombstones, postings
               relation creation (the part-prune decision's read)
    scatter    applyInPandas plan build and the scored collect()
    gather     _driver_rank_cut
    hydrate    _docmap_for_ids and the docmap collect()
    result     createDataFrame of the final rows (one-shot path)
    plan       DataFrame.filter/select/groupBy and Column.isin: Spark's
               driver-side plan building and analysis, wherever the
               search calls them

``outer`` is the time outside the search function: request handling
(serve) or the result frame's collect (one-shot batch).
``unattributed`` is wall minus ``outer`` minus the spans: the engine's
own driver code between wrapped calls, plus any step that no wrapper
names. A wrapper that stops firing (say, after an engine rename) moves
its time there, so the ledger closure drops.

Scorer kernels run in the Python workers: the closure returned by
``make_taat_scorer`` / ``make_bmw_scorer`` is wrapped before it is
pickled, and each call appends its self time and posting counts to a
file under ``kernel_dir`` that the driver folds in after the search.

Build spans: ``_stage``, each ``_build_one_part``, ``finalize_index``.
Sync spans: ``delete_docs``, ``append_docs``, ``compact_index`` inside
``sync_docs``; diff is the self time of the collect(), parquet reads
and ``load_tombstones`` that ``sync_docs`` makes outside those three.

Spark counts (jobs, tasks, executor run time, shuffle bytes) come from
the status store for the jobs submitted inside an operation's window.
The load is one client, so the window holds only that operation.
"""

from __future__ import annotations

import functools
import os
import time
from contextlib import contextmanager

import oboyu_spark.functions.hashing as hashing
import oboyu_spark.operators.postings as postings
import oboyu_spark.operators.searchidx as searchidx
import oboyu_spark.operators.wand as wand
from pyspark.sql import SparkSession
from pyspark.sql.classic.column import Column as _ClassicColumn
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
from pyspark.sql.readwriter import DataFrameReader

SEARCH_SPANS = ("tokenize", "df_lookup", "prune", "scatter", "gather",
                "hydrate", "result", "plan")
SYNC_CHILDREN = ("delete_docs", "append_docs", "compact_index")


def _timed_kernel(fn, kind: str, kernel_dir: str):
    """Worker-side wrapper of a scorer closure (pickled with it)."""

    def score_shard(pdf):
        t0 = time.perf_counter()
        out = fn(pdf)
        dt = time.perf_counter() - t0
        n = int(pdf["n"].sum())
        with open(os.path.join(kernel_dir, f"k{os.getpid()}.log"), "a") as fh:
            fh.write(f"{kind} {dt:.6f} {n}\n")
        return out

    return score_shard


class SparkWindow:
    """Jobs submitted between ``begin`` and ``end`` and their stages."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def _job_ids(self) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(None))

    def begin(self) -> int:
        return max(self._job_ids(), default=-1)

    def end(self, first_after: int) -> dict:
        jobs = [j for j in self._job_ids() if j > first_after]
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = run_ms = shuffle_w = 0
        for s in stages:
            try:
                sd = self.store.lastStageAttempt(s)
            except Exception:  # evicted or skipped: no attempt recorded
                continue
            tasks += sd.numCompleteTasks()
            run_ms += sd.executorRunTime()
            shuffle_w += sd.shuffleWriteBytes()
        return {"jobs": len(jobs), "tasks": tasks,
                "executor_busy_s": run_ms / 1000.0,
                "shuffle_write_bytes": shuffle_w}


def _is_postings_path(p: str) -> bool:
    return "/postings/bpart=" in p or p.rstrip("/").endswith("/postings")


class Tracer:
    """Installs the wrappers and accumulates spans per operation."""

    def __init__(self, spark, kernel_dir: str) -> None:
        self.window = SparkWindow(spark)
        self.kernel_dir = kernel_dir
        os.makedirs(kernel_dir, exist_ok=True)
        self._saved: list[tuple[object, str, object]] = []
        self._search: dict | None = None
        self._build: dict | None = None
        self._sync: dict | None = None

    # -- installation ---------------------------------------------------
    def _patch(self, owner, name: str, make) -> None:
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, functools.wraps(orig)(make(orig)))

    def install(self) -> None:
        tr = self
        now = time.perf_counter

        def timed(span, after=None, diff=False):
            """Self time of a call inside a search, under ``span`` (a
            name, or a function of the search record and the call's
            arguments giving one). ``after(s, args, out)`` records
            counts. ``diff``: also a sync diff step when called by
            ``sync_docs`` outside its three child steps."""
            def make(orig):
                def w(*a, **kw):
                    s = tr._search
                    if s is not None and s["inside"]:
                        name = span(s, a) if callable(span) else span
                        s["stack"].append(0.0)
                        t0 = now()
                        try:
                            out = orig(*a, **kw)
                        finally:
                            dt = now() - t0
                            s[name] += dt - s["stack"].pop()
                            if s["stack"]:
                                s["stack"][-1] += dt
                        if after is not None:
                            out = after(s, a, out)
                        return out
                    sy = tr._sync
                    if diff and sy is not None and sy["depth"] == 0:
                        t0 = now()
                        try:
                            return orig(*a, **kw)
                        finally:
                            sy["diff"] += now() - t0
                    return orig(*a, **kw)
                return w
            return make

        def count_term(s, a, out):
            s["terms"] += 1
            return out

        self._patch(searchidx, "py_tokenize", timed("tokenize"))
        self._patch(hashing, "spark_xxhash64_str",
                    timed("tokenize", count_term))
        self._patch(hashing, "spark_xxhash64_str_int", timed("tokenize"))

        # collect(): the df lookup, the scatter or the hydrate, by the
        # phase the search has reached
        self._patch(_ClassicDataFrame, "collect",
                    timed(lambda s, a: s["phase"], diff=True))

        def parquet_span(s, a):
            paths = [p for p in a[1:] if isinstance(p, str)]
            s["parts_read"] += sum("/postings/bpart=" in p for p in paths)
            s["root_postings_reads"] += sum(
                p.rstrip("/").endswith("/postings") for p in paths)
            return ("prune" if any(_is_postings_path(p) for p in paths)
                    else s["phase"])

        self._patch(DataFrameReader, "parquet", timed(parquet_span, diff=True))
        self._patch(postings, "load_tombstones", timed("prune", diff=True))

        def factory(kind):
            def after(s, a, fn):
                if not s["stack"]:  # outermost factory: scoring is next
                    s["phase"] = "scatter"
                if kind == "mixed":  # wraps the two factories below
                    return fn
                s["queries_" + kind] += len(a[0])
                return _timed_kernel(fn, kind, tr.kernel_dir)
            return timed("prune", after)

        self._patch(searchidx, "make_taat_scorer", factory("taat"))
        self._patch(wand, "make_bmw_scorer", factory("bmw"))
        self._patch(searchidx, "make_mixed_scorer", factory("mixed"))
        self._patch(PandasGroupedOpsMixin, "applyInPandas", timed("scatter"))

        def after_cut(s, a, out):
            s["phase"] = "hydrate"
            s["winners"] += len({int(r["doc_int"]) for r in out})
            return out

        self._patch(searchidx, "_driver_rank_cut", timed("gather", after_cut))

        def after_docmap(s, a, out):
            s["phase"] = "hydrate"
            s["docmap_misses"] += len(a[2])
            return out

        self._patch(searchidx, "_docmap_for_ids",
                    timed("hydrate", after_docmap))
        self._patch(SparkSession, "createDataFrame", timed("result"))
        for name in ("filter", "select", "groupBy"):
            self._patch(_ClassicDataFrame, name, timed("plan"))
        self._patch(_ClassicColumn, "isin", timed("plan"))

        def entry_make(orig):
            def w(*a, **kw):
                s = tr._search
                if s is None:
                    return orig(*a, **kw)
                s["inside"] = True
                s["t_in"] = now()
                try:
                    return orig(*a, **kw)
                finally:
                    s["t_ret"] = now()
                    s["inside"] = False
            return w

        self._patch(searchidx.IndexReader, "search_rows", entry_make)
        self._patch(searchidx, "search_index", entry_make)

        # build and sync layers
        def span_make(name, scope, child=False):
            def make(orig):
                def w(*a, **kw):
                    rec = getattr(tr, scope)
                    if rec is not None and child:
                        rec["depth"] += 1
                    t0 = now()
                    try:
                        out = orig(*a, **kw)
                    finally:
                        if rec is not None and child:
                            rec["depth"] -= 1
                    if rec is not None:
                        rec["spans"].append((name, t0, now(), out))
                    return out
                return w
            return make

        self._patch(postings, "_stage", span_make("stage", "_build"))
        self._patch(postings, "finalize_index", span_make("finalize", "_any"))
        self._patch(postings, "_build_one_part", span_make("part", "_any"))
        for name in SYNC_CHILDREN:
            self._patch(postings, name, span_make(name, "_sync", child=True))

    @property
    def _any(self) -> dict | None:
        return self._build if self._build is not None else self._sync

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    # -- per-operation records -----------------------------------------
    def _drain_kernels(self) -> dict:
        out = {"taat_s": 0.0, "bmw_s": 0.0, "postings": 0}
        for fn in os.listdir(self.kernel_dir):
            path = os.path.join(self.kernel_dir, fn)
            with open(path) as fh:
                lines = fh.read().split("\n")
            os.remove(path)
            for line in lines:
                if not line:
                    continue
                kind, dt, n = line.split()
                out[f"{kind}_s"] += float(dt)
                out["postings"] += int(n)
        return out

    @contextmanager
    def search(self, rec: dict):
        """Trace one search; fills ``rec`` with span seconds and counts."""
        s = {name: 0.0 for name in SEARCH_SPANS}
        s.update({"inside": False, "stack": [], "phase": "df_lookup",
                  "terms": 0, "queries_taat": 0, "queries_bmw": 0,
                  "winners": 0, "docmap_misses": 0, "parts_read": 0,
                  "root_postings_reads": 0})
        self._drain_kernels()
        j0 = self.window.begin()
        self._search = s
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            self._search = None
        wall = t1 - t0
        # outside the search function; 0 when the entry wrapper did not
        # fire, which leaves that time unattributed
        inner = s["t_ret"] - s["t_in"] if "t_in" in s else wall
        rec.update({k: s[k] for k in SEARCH_SPANS})
        rec.update({k: s[k] for k in (
            "terms", "winners", "docmap_misses", "parts_read",
            "root_postings_reads", "queries_taat", "queries_bmw")})
        rec["wall"] = wall
        rec["outer"] = wall - inner
        rec["unattributed"] = wall - rec["outer"] - sum(
            s[k] for k in SEARCH_SPANS)
        rec.update(self._drain_kernels())
        rec.update(self.window.end(j0))

    @contextmanager
    def build(self, rec: dict):
        """Trace one build_index call."""
        with self._op("_build", rec) as spans:
            yield
        stage = [s for s in spans if s[0] == "stage"]
        parts = [s for s in spans if s[0] == "part"]
        fin = [s for s in spans if s[0] == "finalize"]
        rec["stage"] = sum(s[2] - s[1] for s in stage)
        rec["parts_wall"] = (max(s[2] for s in parts)
                             - min(s[1] for s in parts)) if parts else 0.0
        rec["part_max"] = max((s[2] - s[1] for s in parts), default=0.0)
        rec["finalize"] = sum(s[2] - s[1] for s in fin)
        rec["unattributed"] = rec["wall"] - rec["stage"] - rec["parts_wall"] \
            - rec["finalize"]

    @contextmanager
    def sync(self, rec: dict):
        """Trace one sync_docs call."""
        with self._op("_sync", rec) as spans:
            yield
        for name in SYNC_CHILDREN:
            rec[name] = sum(s[2] - s[1] for s in spans if s[0] == name)
        rec["unattributed"] = rec["wall"] - rec["diff"] - sum(
            rec[n] for n in SYNC_CHILDREN)
        parts = [s for s in spans if s[0] == "part"]
        rec["parts_rebuilt"] = len(parts)
        rec["finalize_calls"] = sum(1 for s in spans if s[0] == "finalize")
        rec["docs_retokenized"] = sum(int(s[3]["n_docs"]) for s in parts)

    @contextmanager
    def _op(self, scope: str, rec: dict):
        spans: list = []
        state = {"spans": spans, "depth": 0, "diff": 0.0}
        setattr(self, scope, state)
        j0 = self.window.begin()
        rec["t0"] = time.perf_counter()
        try:
            yield spans
        finally:
            rec["t1"] = time.perf_counter()
            setattr(self, scope, None)
        rec["wall"] = rec["t1"] - rec["t0"]
        rec["diff"] = state["diff"]
        rec.update(self.window.end(j0))
