"""Query engine over the compressed doc-sharded index (scatter-gather).

Plan shape per batch of queries:

1. driver: tokenize queries (same tokenizer as the build — reference
   tokenizer.py:374-376), slice the vocabulary for the union of query
   terms (parquet scan with an IN-pushed filter → a few rows), compute
   idf per term driver-side (tiny), broadcast.
2. score: read postings parquet filtered to query terms (row-group
   pruning via term min/max — rows are sorted by term within each
   shard) with the dense-accumulator term-at-a-time (TAAT) kernel
   ``_score_dense`` — shard-local doc ids are contiguous (range
   sharding), so the accumulator is a flat float64 array and each
   posting costs one vectorized add; each shard emits its local top-k
   with the global tie-break. When Σdf over the live terms and the
   candidate count (step 3) both fit DRIVER_CUT_MAX_ROWS, the postings
   are collected through Arrow (a JVM-only job), decoded from the
   Arrow columns to per-shard numpy arrays and scored on the driver,
   with no pandas; otherwise a scorer closure (TAAT, block-max WAND or
   an "auto" per-query mix) is the scatter's
   ``groupBy("shard").applyInPandas`` UDF. A warm ``IndexReader``
   keeps each term's decoded arrays in its driver term cache, so a
   search whose terms are all cached runs no postings job.
3. gather: global candidates per query (rank-≤-k cut over ≤ shards×k
   rows, boundary score-ties kept — on the driver while the candidate
   count fits the same budget, else a Spark rank window), hydrate
   original doc keys driver-side from a pruned docmap scan, final
   top-k cut tie-broken on the ORIGINAL doc_id (doc_int order only
   matches key order within a shard, not across appends).

Exactness: TAAT scores every matched posting — results match the
relational plan bit-for-bit up to float summation order (tests compare
at 1e-9 and rank-identical). The block-max WAND scorer (wand.py) is the
pruned alternative; both must agree exactly on fixtures.
"""

from __future__ import annotations

import math
import threading
from typing import Callable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import py_tokenize
from .postings import (POSTINGS_READ_SCHEMA, VOCABULARY_SCHEMA, _in_ints,
                       docmap_read_schema, load_meta)

RESULT_SCHEMA = "query_id int, doc_int long, score double"
_READ_SCHEMAS = {"postings": POSTINGS_READ_SCHEMA,
                 "vocabulary": VOCABULARY_SCHEMA}

# the rows the driver takes per search, one budget with two uses:
# when Σdf over the live query terms fits it, the postings are scored
# on the driver (no Python worker task — its fixed cost outweighs the
# scoring of a small search); when the candidate rows (queries ×
# shards × k) fit it, the shard winners are rank-cut on the driver
# (skips a window shuffle). Above the first bound the scatter scores
# the shards in Spark; above the second the rank runs there too
# (cluster scale, 10^4+ shards)
DRIVER_CUT_MAX_ROWS = 200_000

# part-level pruning bounds: a term found in more bparts than this
# prunes nothing (and its full part list would bloat the term cache at
# hot-term vocabularies) — recorded as "all parts"; and a query whose
# union of part lists exceeds the second bound skips the bpart filter
# (a 10^4-literal In over a partition column costs more than it saves)
PART_PRUNE_MAX_PER_TERM = 4096
PART_PRUNE_MAX_UNION = 16384

# scorer="auto" cutovers, from the r7 geometry study (BENCH.md,
# "Block-max WAND: geometry decides"): block-max pruning beats the
# vectorized TAAT accumulate only when per-shard posting lists are
# long (big shards) AND some query term is selective enough to lift
# the top-k threshold above the hot cells — measured 4.9× kernel /
# 2.46× batch at 130k-doc shards with a df≈0.02% term, and a LOSS
# (0.6×) at 10k-doc shards or on all-hot queries.
AUTO_BMW_MIN_SHARD = 64_000
AUTO_BMW_MAX_DF_FRAC = 0.01

# the last search's pruning/scorer decisions, one dict per search, per
# THREAD (ADVICE r6: concurrent searches on one SparkSession must not
# interleave records)
_SCAN_INFO = threading.local()


def last_scan_info() -> dict:
    """This thread's record of its last search: ``live_parts`` (the
    bparts the postings scan was limited to, None = no pruning), ``site``
    ("driver" or "scatter") and, for a scattered scorer="auto",
    ``auto_scorer`` / ``auto_bmw_queries``."""
    return getattr(_SCAN_INFO, "record", {})


def _docmap_for_ids(
    dm: DataFrame | None,
    meta: dict,
    ids: Sequence[int],
    spark: SparkSession | None = None,
    index_dir: str | None = None,
) -> DataFrame:
    """Docmap rows for specific winner doc_ints, PARTITION-pruned:
    doc_int // (shard_size · shards_per_part) == bpart by construction
    (staging assigns dense ids in part order, appends continue the
    sequence, compaction preserves survivor ids), so the winners' few
    containing parts become a bpart directory filter — at 10⁴ parts
    this skips 10⁴−ε footer reads per hydration; the In(doc_int)
    filter then row-group-prunes inside them. Pass ``dm=None`` (with
    ``spark``/``index_dir``) on the one-shot path: the relation is
    then built from ONLY the containing bpart directories, skipping
    root partition discovery too (a root read lists every directory
    before PartitionFilters apply)."""
    part_docs = int(meta["shard_size"]) * int(meta["shards_per_part"])
    parts = sorted({int(i) // part_docs for i in ids})
    if dm is None:
        return spark.read.schema(
            docmap_read_schema(meta["doc_id_type"])
        ).option(
            "basePath", f"{index_dir}/docmap"
        ).parquet(
            *[f"{index_dir}/docmap/bpart={p}" for p in parts]
        ).filter(_in_ints("doc_int", ids))
    return dm.filter(_in_ints("doc_int", ids)) \
        .filter(_in_ints("bpart", parts))


def _result_frame(spark: SparkSession, rows) -> DataFrame:
    """(query_id int, doc_id string, score double) frame of driver-side
    (query_id, doc_id, score) rows, built through Arrow: that gives a
    LocalRelation, whose collect() runs no Spark job (a createDataFrame
    of Python rows is an RDD scan, one job per collect). Integer-keyed
    indexes hydrate int doc_ids; they are str()-ed, so doc_id is a
    string column for every key type."""
    qids, dids, scores = zip(*rows) if rows else ((), (), ())
    return spark.createDataFrame(pa.table({
        "query_id": pa.array(qids, pa.int32()),
        "doc_id": pa.array([str(d) for d in dids], pa.string()),
        "score": pa.array(scores, pa.float64()),
    }))


def _query_maps(queries: Sequence[str], min_token_length: int):
    """qid -> [(term, qtf)], and the union term set."""
    qmap: dict[int, list[tuple[str, int]]] = {}
    all_terms: set[str] = set()
    for qid, q in enumerate(queries):
        terms = py_tokenize(q, min_token_length=min_token_length)
        counts: dict[str, int] = {}
        for t in terms:
            counts[t] = counts.get(t, 0) + 1
        qmap[qid] = sorted(counts.items())
        all_terms.update(counts)
    return qmap, sorted(all_terms)


def _decode_rows(pdf: pd.DataFrame, base: int, k1: float, b: float,
                 avgdl: float, tomb: np.ndarray | None = None):
    """(th1, th2) -> list of (local_ids int64, wtf float64) chunks, each
    sorted by doc id (chunks are salt ranges, mutually disjoint).
    ``tomb``: sorted global doc ints to mask out (deleted docs)."""
    decoded: dict[tuple[int, int], list[tuple[np.ndarray, np.ndarray]]] = {}
    order = pdf.sort_values(["th1", "th2", "salt"])
    for r in order.itertuples():
        ids = np.cumsum(r.gaps, dtype=np.int64)  # shard-local already
        wtf = _wtf(r.tfs, r.dls, k1, b, avgdl)
        if tomb is not None and tomb.size:
            keep = ~np.isin(ids + base, tomb)
            ids = ids[keep]
            wtf = wtf[keep]
        decoded.setdefault((int(r.th1), int(r.th2)), []).append((ids, wtf))
    return decoded


def _decode_arrow(tbl: pa.Table, k1: float, b: float, avgdl: float):
    """(th1, th2) -> {shard: (local ids int32, wtf float64)} of collected
    posting rows, from the flat Arrow lists: one cumsum restarted at
    each row, salt rows joined in salt order, no tombstone masking."""
    decoded: dict[tuple[int, int], dict[int, tuple]] = {}
    lens = pc.list_value_length(tbl.column("gaps")).to_numpy()
    c = np.cumsum(pc.list_flatten(tbl.column("gaps")).to_numpy(),
                  dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    ids = (c - np.repeat(np.concatenate(([0], c))[starts], lens)).astype(
        np.int32)
    wtf = _wtf(pc.list_flatten(tbl.column("tfs")).to_numpy(),
               pc.list_flatten(tbl.column("dls")).to_numpy(), k1, b, avgdl)
    key = [tbl.column(n).to_numpy() for n in ("salt", "shard", "th2", "th1")]
    rows: dict[tuple[int, int, int], list[int]] = {}
    for i in np.lexsort(key).tolist():
        rows.setdefault((int(key[3][i]), int(key[2][i]), int(key[1][i])),
                        []).append(i)
    for (th1, th2, shard), rs in rows.items():
        decoded.setdefault((th1, th2), {})[shard] = tuple(
            np.concatenate([a[starts[r]:ends[r]] for r in rs])
            for a in (ids, wtf))
    return decoded


def _score_dense(qmap, idf_map, terms: dict, k: int, base: int,
                 tomb=None, mode: str = "or", qreq=None):
    """The TAAT kernel of one shard, at both sites: ``terms`` maps a
    term to the shard's (local ids, wtf). Per query a dense accumulator
    adds w·wtf term by term (one summation order everywhere, so scores
    are bit-equal), tombstoned ids (sorted global ints) are masked and
    the local top-k by (score desc, doc asc) is kept; ``mode="and"``
    keeps only docs matching all ``qreq[qid]`` distinct query terms.
    Returns per-query pieces: (query ids, doc-int arrays, scores)."""
    out_q, out_d, out_s = [], [], []
    size = max((int(ids[-1]) + 1 for ids, _ in terms.values() if ids.size),
               default=0)
    acc = np.zeros(size, dtype=np.float64)
    touched = np.zeros(size, dtype=bool)
    ntm = np.zeros(size, dtype=np.int32) if mode == "and" else None
    for qid, qterms in qmap.items():
        if ntm is not None and len(qterms) < qreq[qid]:
            continue  # some query term absent from corpus → empty
        hit = False
        for term, qtf in qterms:
            idf = idf_map.get(term)
            if idf is None or term not in terms:
                continue
            w = qtf * idf
            ids, wtf = terms[term]
            acc[ids] += w * wtf
            touched[ids] = True
            if ntm is not None:
                ntm[ids] += 1  # a term's ids are distinct per shard
            hit = True
        if not hit:
            continue
        all_cand = np.flatnonzero(touched)
        cand = all_cand
        if ntm is not None:
            cand = cand[ntm[cand] == qreq[qid]]
        if tomb is not None:
            cand = cand[~np.isin(cand + base, tomb)]
        s = acc[cand]
        if cand.size > k:  # keep the k-th score's ties, order those few
            keep = s >= np.partition(s, cand.size - k)[cand.size - k]
            cand, s = cand[keep], s[keep]
        if cand.size:
            order = np.lexsort((cand, -s))[:k]
            out_q.append(qid)
            out_d.append(cand[order] + base)
            out_s.append(s[order])
        # reset only the touched region — O(matched), not O(shard_size),
        # per query (matters for 120-query batches over 1M-doc shards)
        acc[all_cand] = 0.0
        touched[all_cand] = False
        if ntm is not None:
            ntm[all_cand] = 0
    return out_q, out_d, out_s


def _shard_frame(qids, docs, scores) -> pd.DataFrame:
    """A scatter closure's result frame of per-query top-k pieces."""
    return pd.DataFrame({
        "query_id": np.repeat(np.array(qids, dtype=np.int32),
                              [d.size for d in docs]),
        "doc_int": np.concatenate(docs or [np.empty(0, np.int64)]),
        "score": np.concatenate(scores or [np.empty(0)])})


def make_taat_scorer(
    qmap: dict[int, list[tuple[str, int]]],
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    shard_size: int,
    tomb: np.ndarray | None = None,
    mode: str = "or",
    qreq: dict[int, int] | None = None,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """The scatter's TAAT closure: decode one shard's pandas group and
    run :func:`_score_dense` over it. ``mode="and"``: posting-list
    intersection (``qreq[qid]`` counts the query's distinct terms)."""

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        base = int(pdf["shard"].iloc[0]) * shard_size
        terms = {h: tuple(np.concatenate(a) for a in zip(*chunks)) for
                 h, chunks in _decode_rows(pdf, base, k1, b, avgdl).items()}
        return _shard_frame(*_score_dense(qmap, idf_map, terms, k, base,
                                          tomb, mode, qreq))

    return score_shard


def make_mixed_scorer(
    qmap_taat: dict[int, list[tuple[str, int]]],
    qmap_bmw: dict[int, list[tuple[str, int]]],
    idf_map: dict[str, float],
    k1: float,
    b: float,
    avgdl: float,
    k: int,
    shard_size: int,
    tomb: np.ndarray | None = None,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """Per-query scorer dispatch for ``scorer="auto"`` mixed batches
    (r8, VERDICT r7 #1): selective queries run under the block-max
    (BMW) closure, hot queries under the vectorized TAAT accumulate,
    in ONE scatter over the same pruned postings. Each sub-scorer sees
    only the posting rows of its own queries' terms (a pandas th1
    filter — decode work stays ≈ one scorer's worth; a term shared by
    both subsets is decoded twice, bounded by the query batch).
    Results are the row-concat of the two sub-scorers, both exact and
    rank-identical by the pinned TAAT==BMW invariant."""
    from .wand import make_bmw_scorer

    fn_taat = make_taat_scorer(qmap_taat, idf_map, k1, b, avgdl, k,
                               shard_size, tomb)
    fn_bmw = make_bmw_scorer(qmap_bmw, idf_map, k1, b, avgdl, k,
                             shard_size, tomb)
    h1_taat = {h[0] for qterms in qmap_taat.values() for h, _ in qterms}
    h1_bmw = {h[0] for qterms in qmap_bmw.values() for h, _ in qterms}

    def score_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        sub = pdf[pdf["th1"].isin(h1_bmw)]
        if len(sub):
            outs.append(fn_bmw(sub))
        sub = pdf[pdf["th1"].isin(h1_taat)]
        if len(sub):
            outs.append(fn_taat(sub))
        outs = [o for o in outs if len(o)]
        return (pd.concat(outs, ignore_index=True) if outs
                else _shard_frame([], [], []))

    return score_shard


def _wtf(tfs, dls, k1: float, b: float, avgdl: float) -> np.ndarray:
    """BM25's tf part per posting. Over a block's (max tf, min dl) it is
    the block's upper bound: it rises in tf and falls in dl, so the
    bound holds under the CURRENT k1/b/avgdl as collection stats drift."""
    t = np.asarray(tfs, dtype=np.float64)
    d = np.asarray(dls, dtype=np.float64)
    return t * (k1 + 1.0) / (t + k1 * (1.0 - b + b * (d / avgdl)))


def search_index(
    spark: SparkSession,
    index_dir: str,
    queries: str | Sequence[str],
    k: int = 10,
    scorer: str = "taat",
    mode: str = "or",
) -> DataFrame:
    """Top-k over the persisted index. Returns
    (query_id, doc_id <original key>, score), globally tie-broken
    (score desc, doc_id asc per query). ``mode="and"`` = posting-list
    intersection (docs containing ALL distinct query terms; always the
    TAAT scorer).

    One-shot form — re-reads the index tables per call. For repeated /
    interactive queries use :class:`IndexReader`, which pins the
    postings/vocabulary/docmap in executor memory."""
    return _search(
        spark,
        load_meta(index_dir),
        None,
        index_dir,
        queries,
        k,
        scorer,
        mode,
    )


class _TermCache(dict):
    """A warm reader's term cache: (th1, th2) -> None for a term absent
    from the vocabulary, else (df, bparts, postings): {shard: (local
    ids, wtf)} decoded with the reader's open-time k1/b/avgdl, unmasked
    (tombstones apply per search), or None when only df and bparts are
    cached: a term first seen by a scattered search, whose rows never
    reached the driver. Its size is counted in cached postings — df per row-cached
    term, one per other entry — and bounded by ``limit``: an entry that
    does not fit is not stored (the cache stops filling; it never
    evicts). Concurrent searches on one reader may fill it: ``put`` holds a lock
    around its check and count."""

    def __init__(self, limit: int) -> None:
        super().__init__()
        self.limit = limit
        self.postings = 0
        self._lock = threading.Lock()

    @staticmethod
    def _cost(entry) -> int:
        return 1 if entry is None or entry[2] is None else entry[0]

    def put(self, h: tuple[int, int], entry) -> None:
        with self._lock:
            cost = self._cost(entry) - (
                self._cost(self[h]) if h in self else 0)
            if self.postings + cost <= self.limit:
                self[h] = entry
                self.postings += cost


class IndexReader:
    """Warm query handle: index tables cached in executor memory, and
    each query term's df, bparts and decoded postings on the driver.

    The serving deployment shape — open once, query many times. The
    first search pays cache materialization; subsequent searches scan
    the in-memory columnar cache instead of parquet. The postings are
    cached hash-partitioned by shard, so the scatter's
    ``groupBy("shard")`` scores each shard in the partition that holds
    it with no shuffle. A small search (Σdf within
    ``DRIVER_CUT_MAX_ROWS``) skips the scatter and scores on the
    driver, over decoded postings kept in the term cache: it collects
    only the terms not cached yet, in one JVM-only Arrow job. A warm
    query whose terms and winners are all cached runs NO Spark job;
    above the budget it is one job, the scatter.

    Snapshot contract: the reader serves the index AS OF open —
    bparts appended by ``append_docs`` after open (and docs removed by
    ``compact_index``'s rewrite) are not visible until reopen (the
    cached relations and the term and docmap caches are all open-time
    snapshots, tf weights included). Tombstones ARE re-read per search
    and masked at score time (deletes mask immediately, cached postings
    included). Same contract as
    ``similarity.IvfReader``."""

    # term-cache bound in cached postings (driver memory): df per
    # row-cached term plus one per df-only or absent entry. A decoded
    # term holds 12 B per posting plus ≈0.8 KB of entry and array
    # overhead, so the worst case (all df-1 terms) is ≈0.4 GB
    TERM_CACHE_MAX_POSTINGS = 500_000
    DOCMAP_CACHE_MAX = 1_000_000  # doc_int -> doc_id entries (driver memory)

    def __init__(self, spark: SparkSession, index_dir: str,
                 cache: bool = True) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.meta = load_meta(index_dir)
        self._dfs = {
            "postings": spark.read.schema(POSTINGS_READ_SCHEMA)
            .parquet(f"{index_dir}/postings"),
            "vocabulary": spark.read.schema(VOCABULARY_SCHEMA)
            .parquet(f"{index_dir}/vocabulary"),
            "docmap": spark.read.schema(
                docmap_read_schema(self.meta["doc_id_type"])
            ).parquet(f"{index_dir}/docmap"),
        }
        if cache:
            # the postings cache is hash-partitioned by shard, so the
            # per-query groupBy("shard") plans no Exchange (uncached,
            # it would shuffle the whole table on every query); the
            # scatter of searches above the driver budget reads it
            self._dfs["postings"] = self._dfs["postings"].repartition(
                spark.sparkContext.defaultParallelism, "shard")
            for df in self._dfs.values():
                df.persist()
        # the term cache (see _TermCache), filled lazily per search.
        # Serving workloads repeat query terms heavily: a search whose
        # terms are all cached runs no vocabulary job and, below the
        # driver budget, no postings job
        self._df_cache = _TermCache(self.TERM_CACHE_MAX_POSTINGS)
        # doc_int -> doc_id for past winners: serving workloads surface
        # hot docs repeatedly; a cached winner skips the docmap job
        self._docmap_cache: dict[int, str] = {}

    def search(self, queries: str | Sequence[str], k: int = 10,
               scorer: str = "taat", mode: str = "or") -> DataFrame:
        return _search(self.spark, self.meta, self._dfs, self.index_dir,
                       queries, k, scorer, mode, term_cache=self._df_cache,
                       docmap_cache=self._docmap_cache)

    def search_rows(self, queries: str | Sequence[str], k: int = 10,
                    scorer: str = "taat",
                    mode: str = "or") -> "list[tuple[int, str, float]]":
        """Like :meth:`search` but returns the final (query_id, doc_id,
        score) tuples driver-side. On the warm driver-cut path the
        winners are already driver-local, so this skips building a
        result frame and collecting it back (the serve loop and the
        hybrid fold consume rows, not a frame)."""
        return _search(self.spark, self.meta, self._dfs, self.index_dir,
                       queries, k, scorer, mode, term_cache=self._df_cache,
                       docmap_cache=self._docmap_cache, return_rows=True)

    def close(self) -> None:
        for df in self._dfs.values():
            df.unpersist()


def _driver_rank_cut(rows, k: int):
    """Per-query rank-≤-k cut with ties kept (score only — the doc_id
    tie-break happens after hydration), numpy-free driver-side
    equivalent of the Spark rank window."""
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    out = []
    for lst in by_q.values():
        lst.sort(key=lambda r: -r["score"])
        if len(lst) > k:
            kth = lst[k - 1]["score"]
            lst = [r for r in lst if r["score"] >= kth]
        out.extend(lst)
    return out


def _live_parts(parts_by_hash: dict, hashes) -> list[int] | None:
    """Part-level pruning: the bparts that contain at least one of the
    terms ``hashes`` (bpart is a partition column — the IN filter lands
    in the scan's PartitionFilters, so unrelated parts' files are never
    opened, footer reads included). None — no pruning — when any term's
    part set was too large to track (it spans everything anyway) or
    when the union itself stops being selective."""
    part_sets = [parts_by_hash.get(h) for h in hashes]
    if any(ps is None for ps in part_sets):
        return None
    lp = sorted(set().union(*part_sets))
    return lp if len(lp) <= PART_PRUNE_MAX_UNION else None


def _search(
    spark: SparkSession,
    meta: dict,
    dfs: dict | None,
    index_dir: str,
    queries: str | Sequence[str],
    k: int,
    scorer: str,
    mode: str = "or",
    term_cache: _TermCache | None = None,
    docmap_cache: dict | None = None,
    return_rows: bool = False,
) -> DataFrame:
    """``return_rows=True`` returns the final results as a driver list
    of (query_id, doc_id, score) tuples instead of a DataFrame. Both
    gather paths hydrate the winners driver-side, so this skips the
    Arrow frame build and the collect back
    (the fold consumers: ``IndexReader.search_rows``,
    ``hybrid_search_folded``, serve_index's plain response). The
    DataFrame form is an Arrow-built LocalRelation (``_result_frame``),
    so collecting it runs no Spark job either.

    Driver↔JVM cost per call: integer IN filters are one F.expr call
    (``_in_ints``), not one py4j call per literal; the postings,
    vocabulary and docmap reads declare their schemas (no
    footer-inference job)."""
    if isinstance(queries, str):
        queries = [queries]

    def table(name: str) -> DataFrame:
        if dfs is not None:
            return dfs[name]
        return spark.read.schema(_READ_SCHEMAS[name]).parquet(
            f"{index_dir}/{name}")

    k1, b = meta["k1"], meta["b"]
    avgdl, n_docs = meta["avgdl"], meta["n_docs"]
    shard_size = meta["shard_size"]
    qmap, all_terms = _query_maps(queries, meta["min_token_length"])
    # distinct-term requirement per query for conjunctive mode, counted
    # BEFORE vocabulary filtering (absent terms make "and" empty)
    qreq = {qid: len(qterms) for qid, qterms in qmap.items()}

    def ret_empty():
        return [] if return_rows else _result_frame(spark, [])

    if not all_terms or n_docs == 0 or avgdl <= 0:
        return ret_empty()

    # hash the query terms exactly as the build did — driver-side
    # (pure-python XXH64 pinned against F.xxhash64; saves a Spark job
    # per search), then slice the hash-keyed vocabulary for their df
    from ..functions.hashing import spark_xxhash64_str, spark_xxhash64_str_int
    from .postings import TERM_HASH_SEED2

    term_to_hash = {
        t: (
            spark_xxhash64_str(t),
            spark_xxhash64_str_int(t, TERM_HASH_SEED2),
        )
        for t in all_terms
    }
    # df per term: serve from the reader's term cache where possible
    # (it stores the reader's SNAPSHOT of (df, containing bparts,
    # decoded postings), incl. "absent" as None — consistent with the persisted
    # DataFrames); run the lookup job only for terms not seen before.
    # idf is derived fresh from df + current n_docs, so collection
    # stats are never cached. The lookup reads the merged vocabulary,
    # which carries each term's global df AND its (capped) containing-
    # bpart list, written at finalize — the part-level pruning input
    # (VERDICT r5 #3: postings are doc-range-sharded, so without it
    # every search opens every bpart's footers; at 10^4+ parts that
    # fan-out is the latency floor for selective queries).
    df_by_hash: dict[tuple[int, int], int | None] = {}
    parts_by_hash: dict[tuple[int, int], tuple | None] = {}
    post_by_hash: dict[tuple[int, int], dict] = {}
    missing: list[tuple[int, int]] = []
    for h in term_to_hash.values():
        if term_cache is not None and h in term_cache:
            cached = term_cache[h]
            if cached is None:
                df_by_hash[h] = None
            else:
                df_by_hash[h], parts_by_hash[h], post = cached
                if post is not None:
                    post_by_hash[h] = post
        else:
            missing.append(h)
    if missing:
        miss_h1 = sorted({h1 for h1, _ in missing})
        miss_set = set(missing)
        # ONE th1-sorted table scan serves df AND the pruning input (a
        # fan-out over the per-part vocab partials cost ~4.5 s per cold
        # query at 505 parts). The exact (th1, th2) pair match runs
        # DRIVER-side over the few th1-matched rows (r8) — the
        # broadcast-join of a tiny literal frame bought nothing but an
        # extra exchange/stage on the cold-query latency path.
        vocab = table("vocabulary").filter(
            _in_ints("th1", miss_h1)).collect()
        found = {}
        for r in vocab:
            if (r["th1"], r["th2"]) not in miss_set:
                continue  # th1 hash collision with a non-query term
            parts = (None if r["bparts"] is None
                     else tuple(int(p) for p in r["bparts"]))
            found[(r["th1"], r["th2"])] = (
                int(r["document_frequency"]), parts
            )
        for h in missing:
            df_by_hash[h] = found[h][0] if h in found else None
            if h in found:
                parts_by_hash[h] = found[h][1]
            if term_cache is not None:
                # df and bparts only: a driver-site search adds the
                # decoded postings when it collects them
                term_cache.put(h, (*found[h], None) if h in found else None)
    for h, df in df_by_hash.items():
        if df is not None and n_docs - df + 0.5 <= 0:
            raise ValueError(
                f"term df={df} exceeds collection size N={n_docs} — the "
                "index has uncompacted deletions/updates whose stale df "
                "breaks the ln-IDF domain; run compact_index first"
            )
    idf_by_hash = {
        h: math.log((n_docs - df + 0.5) / (df + 0.5))
        for h, df in df_by_hash.items()
        if df is not None
    }
    if not idf_by_hash:
        return ret_empty()

    # rewrite query maps onto hash keys
    qmap = {
        qid: [
            (term_to_hash[t], qtf)
            for t, qtf in qterms
            if term_to_hash[t] in idf_by_hash
        ]
        for qid, qterms in qmap.items()
    }
    idf_map = idf_by_hash
    # part-level pruning: read ONLY the bpart= directories that contain
    # at least one live query term. The prune decision runs BEFORE any
    # relation is created (r8, ADVICE r7): on the one-shot path,
    # eagerly building the root relation first — as r7 did — paid the
    # full partition-directory listing the explicit-path read exists
    # to skip.
    live_parts = _live_parts(parts_by_hash, idf_by_hash)
    info = _SCAN_INFO.record = {"live_parts": live_parts}

    def scan(hashes) -> DataFrame:
        """The postings of the terms ``hashes``, read from their live
        bparts only where pruning applies."""
        h1s = sorted({h1 for h1, _ in hashes})
        parts = _live_parts(parts_by_hash, hashes)
        if parts is not None and dfs is None:
            # one-shot path (r7): build the relation from the live bpart
            # directories EXPLICITLY instead of filtering a root read —
            # root relation creation LISTS every partition directory
            # before PartitionFilters apply (measured ~1 s at 505 local
            # parts, and a per-query 10⁴-prefix listing on an object
            # store), all of it for directories the filter then
            # discards. A warm IndexReader amortizes discovery in its
            # persisted relations; this gives the cold path the same
            # locality.
            return spark.read.schema(POSTINGS_READ_SCHEMA).option(
                "basePath", f"{index_dir}/postings"
            ).parquet(*[
                f"{index_dir}/postings/bpart={int(p)}" for p in parts
            ]).filter(_in_ints("th1", h1s))
        postings = table("postings").filter(_in_ints("th1", h1s))
        if parts is not None:
            postings = postings.filter(_in_ints("bpart", parts))
        return postings

    from .postings import load_tombstones

    tomb_set = load_tombstones(index_dir)
    tomb = (
        np.array(sorted(tomb_set), dtype=np.int64) if tomb_set else None
    )

    if scorer not in ("taat", "bmw", "auto"):
        raise ValueError(f"unknown scorer {scorer!r}")
    # The engine-wide tie-break is (score desc, ORIGINAL doc_id asc).
    # doc_int order equals doc_id order only for the initial build —
    # append_docs hands out strictly higher doc_int ranges regardless
    # of key order — so the pre-hydration cut keeps ALL score-ties at
    # the k boundary (rank semantics) and the final cut happens on the
    # hydrated original keys.
    n_shards = max(1, -(-n_docs // shard_size))
    driver_cut = len(queries) * n_shards * k <= DRIVER_CUT_MAX_ROWS
    on_driver = driver_cut and sum(
        df_by_hash[h] for h in idf_by_hash) <= DRIVER_CUT_MAX_ROWS
    info["site"] = "driver" if on_driver else "scatter"

    bmw_qmap: dict | None = None
    if scorer == "auto" and mode != "and" and not on_driver:
        # geometry-driven choice (r7, BENCH.md "Block-max WAND:
        # geometry decides"): BMW only where it measured faster — big
        # shards (long per-shard lists) AND the query selective (its most-selective
        # present term under the df cut). r8 (VERDICT r7 #1): the
        # choice is PER QUERY, not per batch — a mixed batch splits
        # into a BMW subset and a TAAT subset scored in the SAME
        # scatter (one dispatching closure), instead of one hot query
        # forfeiting the measured 2.7× BMW batch win for everyone.
        # Exact either way — the scorers are pinned rank-identical.
        # The driver site always runs TAAT: Σdf bounds its work there
        sel_q: dict = {}
        hot_q: dict = {}
        big = shard_size >= AUTO_BMW_MIN_SHARD
        for qid, qterms in qmap.items():
            dfs_q = [df_by_hash[h] for h, _ in qterms
                     if df_by_hash.get(h) is not None]
            frac = (min(dfs_q) / max(n_docs, 1)) if dfs_q else 0.0
            if big and 0.0 < frac <= AUTO_BMW_MAX_DF_FRAC:
                sel_q[qid] = qterms
            else:
                hot_q[qid] = qterms
        if not sel_q:
            scorer = "taat"
        elif not hot_q:
            scorer = "bmw"
        else:
            scorer = "mixed"
            qmap, bmw_qmap = hot_q, sel_q
        info["auto_scorer"] = scorer
        if scorer == "mixed":
            info["auto_bmw_queries"] = sorted(sel_q)

    if on_driver:
        # small search: Σdf bounds the postings the scan returns, so
        # collect them (a JVM-only Arrow job, no Python task) and run
        # the kernel per shard here — the scatter's Python worker round
        # trip costs more than the scoring it would do. A warm reader
        # collects only the terms its cache lacks, none when all hit
        fetch = [h for h in idf_by_hash if h not in post_by_hash]
        if fetch:
            got = _decode_arrow(scan(fetch).toArrow(), k1, b, avgdl)
            for h in fetch:
                post_by_hash[h] = got.get(h, {})
                if term_cache is not None:
                    term_cache.put(h, (df_by_hash[h], parts_by_hash.get(h),
                                       post_by_hash[h]))
        live = [post_by_hash[h] for h in idf_by_hash]
        top_rows = []
        for s in sorted(set().union(*live)):
            terms = {h: p[s] for h, p in zip(idf_by_hash, live) if s in p}
            for qid, ds, ss in zip(*_score_dense(
                    qmap, idf_map, terms, k, s * shard_size, tomb, mode,
                    qreq)):
                top_rows += [{"query_id": qid, "doc_int": d, "score": x}
                             for d, x in zip(ds.tolist(), ss.tolist())]
        top_rows = _driver_rank_cut(top_rows, k)
    else:
        if mode == "and":
            # intersection needs per-doc matched-term counts → TAAT
            fn = make_taat_scorer(qmap, idf_map, k1, b, avgdl, k,
                                  shard_size, tomb, mode="and", qreq=qreq)
        elif scorer == "taat":
            fn = make_taat_scorer(qmap, idf_map, k1, b, avgdl, k,
                                  shard_size, tomb)
        elif scorer == "bmw":
            from .wand import make_bmw_scorer

            fn = make_bmw_scorer(qmap, idf_map, k1, b, avgdl, k,
                                 shard_size, tomb)
        else:
            fn = make_mixed_scorer(qmap, bmw_qmap, idf_map, k1, b, avgdl, k,
                                   shard_size, tomb)
        local = scan(list(idf_by_hash)).groupBy("shard").applyInPandas(
            fn, schema=RESULT_SCHEMA)
        if driver_cut:
            # few candidates: collect the shard winners directly and
            # rank-cut on the driver — skips the window's shuffle
            # exchange (one fewer stage on the latency path)
            top_rows = _driver_rank_cut(local.collect(), k)
        else:
            # cluster scale (10^4+ shards): the rank-≤-k cut runs in
            # Spark, so only the per-query winners (ties kept) reach
            # the driver
            w = Window.partitionBy("query_id").orderBy(F.col("score").desc())
            top_rows = (
                local.withColumn("rnk", F.rank().over(w))
                .filter(F.col("rnk") <= k)
                .drop("rnk")
                .collect()
            )
    if not top_rows:
        return ret_empty()
    # winners are driver-known ids → hydrate driver-side: one pruned
    # docmap scan for cache-missed ids (no join job), zero Spark jobs
    # when every winner is already cached in a warm IndexReader. The
    # docmap is sorted by doc_int, so the IN filter prunes to the few
    # row groups containing misses.
    ids = sorted({int(r["doc_int"]) for r in top_rows})
    known = docmap_cache if docmap_cache is not None else {}
    miss = [i for i in ids if i not in known]
    fetched: dict[int, str] = {}
    if miss:
        rows = (
            _docmap_for_ids(
                dfs["docmap"] if dfs is not None else None, meta,
                miss, spark=spark, index_dir=index_dir,
            )
            .select("doc_int", "doc_id")
            .collect()
        )
        fetched = {int(r["doc_int"]): r["doc_id"] for r in rows}
        if (docmap_cache is not None
                and len(docmap_cache) < IndexReader.DOCMAP_CACHE_MAX):
            docmap_cache.update(fetched)
    by_q: dict[int, list[tuple[float, str]]] = {}
    for r in top_rows:
        di = int(r["doc_int"])
        did = known.get(di, fetched.get(di))
        if did is None:  # docmap gap — mirror inner-join semantics
            continue
        by_q.setdefault(int(r["query_id"]), []).append(
            (float(r["score"]), did)
        )
    # final cut on the ORIGINAL key (an integer-keyed docmap ranks its
    # ties numerically; _result_frame then renders doc_id as a string)
    final = []
    for qid in sorted(by_q):
        ranked = sorted(by_q[qid], key=lambda t: (-t[0], t[1]))[:k]
        final.extend((qid, d, s) for s, d in ranked)
    if not final:
        return ret_empty()
    if return_rows:
        return final  # already (query_id, doc_id, score) tuples
    return _result_frame(spark, final)
