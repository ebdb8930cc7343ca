"""Query engine over the compressed doc-sharded index (scatter-gather).

Plan shape per batch of queries:

1. driver: tokenize queries (same tokenizer as the build — reference
   tokenizer.py:374-376), look up each query term's df and containing
   bparts — in a warm ``IndexReader``'s vocabulary map, else by
   slicing the vocabulary for the union of query terms (parquet scan
   with an IN-pushed filter → a few rows) — and compute idf per term
   driver-side (tiny).
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
   with no pandas, always by TAAT; otherwise a scorer closure (TAAT,
   block-max WAND or an "auto" per-query mix) is the scatter's
   ``groupBy("shard").applyInPandas`` UDF, each decoding its shard
   through ``_decode_shard`` to per-term (ids, wtf); both sites decode
   with the one ``_decode``. A warm ``IndexReader``
   keeps each term's decoded arrays in its driver term cache, so a
   search whose terms are all cached runs no postings job.
3. gather: global candidates per query (rank-≤-k cut over ≤ shards×k
   rows, boundary score-ties kept — on the driver while the candidate
   count fits the same budget, else a Spark rank window), hydrate
   original doc keys driver-side (a warm reader's docmap map, else a
   pruned docmap scan), final top-k cut tie-broken on the
   ORIGINAL doc_id (doc_int order only matches key order within a
   shard, not across appends).

Exactness: TAAT scores every matched posting — results match the
relational plan bit-for-bit up to float summation order (tests compare
at 1e-9 and rank-identical). The block-max WAND scorer (wand.py) is the
pruned alternative, bounded by the decoded weights (the postings
store no block metadata); both must agree exactly on fixtures.
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
                       docmap_read_schema, load_meta, load_tombstones,
                       read_docmap)

RESULT_SCHEMA = "query_id int, doc_int long, score double"

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


def _docmap_for_ids(spark: SparkSession, index_dir: str,
                    ids: Sequence[int], meta: dict,
                    rel: DataFrame | None = None) -> DataFrame:
    """Docmap rows for specific winner doc_ints, from ONLY their
    containing bparts: doc_int // (shard_size · shards_per_part) ==
    bpart by construction (staging assigns dense ids in part order,
    appends continue the sequence, compaction preserves survivor ids).
    A warm reader passes its cached docmap ``rel``, filtered on bpart;
    the one-shot path builds the relation from those directories,
    which skips root partition discovery too (a root read lists every
    directory before PartitionFilters apply — at 10⁴ parts, 10⁴−ε
    footer reads per hydration); the In(doc_int) filter then
    row-group-prunes inside them."""
    part_docs = int(meta["shard_size"]) * int(meta["shards_per_part"])
    parts = sorted({int(i) // part_docs for i in ids})
    if rel is not None:
        return rel.filter(_in_ints("bpart", parts)).filter(
            _in_ints("doc_int", ids))
    return spark.read.schema(
        docmap_read_schema(meta["doc_id_type"])
    ).option(
        "basePath", f"{index_dir}/docmap"
    ).parquet(
        *[f"{index_dir}/docmap/bpart={p}" for p in parts]
    ).filter(_in_ints("doc_int", ids))


def _vocab_entries(rows) -> dict:
    """(th1, th2) -> (df, bparts) of vocabulary rows (th1, th2,
    document_frequency, bparts); bparts is a tuple, or None for a term
    found in too many parts to track (it prunes nothing)."""
    return {(th1, th2): (int(df), None if bp is None else tuple(bp))
            for th1, th2, df, bp in rows}


def _vocab_lookup(spark: SparkSession, index_dir: str, hashes,
                  rel: DataFrame | None = None) -> dict:
    """The vocabulary entries (see :func:`_vocab_entries`) of the term
    hashes ``hashes``, from a warm reader's cached vocabulary ``rel``
    or the table; an absent term has none. ONE th1-sorted table scan
    serves df AND the pruning input (a fan-out over the per-part vocab
    partials cost ~4.5 s per cold query at 505 parts). The exact
    (th1, th2) pair match runs DRIVER-side over the few th1-matched rows
    (r8) — the broadcast-join of a tiny literal frame bought nothing but
    an extra exchange/stage on the cold-query latency path."""
    want = set(hashes)
    if rel is None:
        rel = spark.read.schema(VOCABULARY_SCHEMA).parquet(
            f"{index_dir}/vocabulary")
    rows = rel.filter(
        _in_ints("th1", sorted({h1 for h1, _ in want}))).collect()
    return {h: e for h, e in _vocab_entries(rows).items() if h in want}


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


def _decode(n: np.ndarray, gaps: np.ndarray, tfs: np.ndarray,
            dls: np.ndarray, keys, k1: float, b: float, avgdl: float):
    """(th1, th2) -> {shard: (local ids int32, wtf float64)} of posting
    rows given as their lengths ``n``, their flat ``gaps``/``tfs``/
    ``dls`` values and their (th1, th2, shard, salt) ``keys`` columns:
    one cumsum restarted at each row, salt rows joined in salt order,
    no tombstone masking."""
    decoded: dict[tuple[int, int], dict[int, tuple]] = {}
    n = np.asarray(n, dtype=np.int64)
    c = np.cumsum(gaps, dtype=np.int64)
    ends = np.cumsum(n)
    starts = ends - n
    ids = (c - np.repeat(np.concatenate(([0], c))[starts], n)).astype(
        np.int32)
    wtf = _wtf(tfs, dls, k1, b, avgdl)
    th1, th2, shard, salt = keys
    rows: dict[tuple[int, int, int], list[int]] = {}
    for i in np.lexsort((salt, shard, th2, th1)).tolist():
        rows.setdefault((int(th1[i]), int(th2[i]), int(shard[i])),
                        []).append(i)
    for (h1, h2, sh), rs in rows.items():
        decoded.setdefault((h1, h2), {})[sh] = tuple(
            np.concatenate([a[starts[r]:ends[r]] for r in rs])
            for a in (ids, wtf))
    return decoded


def _decode_arrow(tbl: pa.Table, k1: float, b: float, avgdl: float):
    """:func:`_decode` of posting rows collected to the driver as Arrow,
    from the list columns' flat values."""
    return _decode(
        tbl.column("n").to_numpy(),
        *(pc.list_flatten(tbl.column(c)).to_numpy()
          for c in ("gaps", "tfs", "dls")),
        [tbl.column(c).to_numpy() for c in ("th1", "th2", "shard", "salt")],
        k1, b, avgdl)


def _decode_shard(pdf: pd.DataFrame, k1: float, b: float, avgdl: float):
    """The scatter's decoder, shared by its scorer closures: (th1, th2)
    -> (local ids int32, wtf float64) of one shard's pandas group,
    :func:`_decode` of its list cells."""
    shard = int(pdf["shard"].iloc[0])
    return {h: p[shard] for h, p in _decode(
        pdf["n"].to_numpy(),
        *(np.concatenate(pdf[c].to_numpy()) for c in ("gaps", "tfs", "dls")),
        [pdf[c].to_numpy() for c in ("th1", "th2", "shard", "salt")],
        k1, b, avgdl).items()}


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
        terms = _decode_shard(pdf, k1, b, avgdl)
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
    """BM25's tf part per posting, under the CURRENT k1/b/avgdl: TAAT's
    weights and, through their per-cell maxima, BMW's bounds."""
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
    TAAT scorer). ``scorer`` ("taat", "bmw" or "auto") picks the
    scatter's kernel only: a search whose Σdf fits
    ``DRIVER_CUT_MAX_ROWS`` is scored on the driver, always by TAAT.

    One-shot form — re-reads the index tables per call. For repeated /
    interactive queries use :class:`IndexReader`, which holds the
    vocabulary and docmap as driver maps and pins the postings in
    executor memory."""
    return _search(spark, load_meta(index_dir), index_dir, queries, k,
                   scorer, mode)


class _DriverMap(dict):
    """A warm reader's driver structure, key -> value: the term cache,
    (th1, th2) -> the term's postings {shard: (local ids, wtf)} decoded
    with the reader's open-time k1/b/avgdl, unmasked (tombstones apply
    per search); or one index table, the vocabulary or the docmap. A
    table map is the whole table when it was collected at open
    (``complete``: a key not in it is absent from the table), else the
    keys looked up so far, an absent key as None, in the table's
    relation ``rel`` when the reader holds one. ``size`` counts what
    the map holds — df per cached term, one per table row — up to
    ``limit``: an entry that does not fit is not stored (the map stops
    filling; it never evicts). Concurrent searches on one reader may
    fill it: ``put`` holds a lock around its check and count."""

    def __init__(self, limit: int, rows=None,
                 rel: DataFrame | None = None) -> None:
        super().__init__(rows or ())
        self.limit = limit
        self.rel = rel
        self.size = len(self)
        self.complete = rows is not None
        self._lock = threading.Lock()

    def put(self, h, cost: int, value) -> None:
        with self._lock:
            if h not in self and self.size + cost <= self.limit:
                self[h] = value
                self.size += cost

    def lookup(self, keys, fetch: Callable[[list], dict]) -> dict:
        """key -> value of the ``keys`` (iterated twice) present in the
        table. Keys the map cannot answer are read by ``fetch(keys)``
        (one Spark job) and memoized while the map has room; the
        one-shot path looks up through an empty map of limit 0, which
        memoizes nothing."""
        miss = [] if self.complete else [h for h in keys if h not in self]
        got = fetch(miss) if miss else {}
        for h in miss:
            self.put(h, 1, got.get(h))
        return {h: r for h in keys
                if (r := self.get(h, got.get(h))) is not None}


class IndexReader:
    """Warm query handle: the vocabulary, the docmap and each query
    term's decoded postings in driver maps, the postings cached in
    executor memory.

    The serving deployment shape — open once, query many times. At open
    the reader collects the vocabulary as (th1, th2) -> (df, bparts) and
    the docmap as doc_int -> doc_id, each if its rows fit
    ``TERM_CACHE_MAX_POSTINGS``; a table above it is cached in executor
    memory and scanned per search for the keys its map has not memoized
    yet. The postings are cached hash-partitioned by shard, so
    the scatter's ``groupBy("shard")`` scores each shard in the
    partition that holds it with no shuffle. A small search (Σdf within
    ``DRIVER_CUT_MAX_ROWS``) skips the scatter and scores on the
    driver, over the term cache: it collects only the terms not cached
    yet, in one JVM-only Arrow job. A warm query whose terms and
    winners the maps know, and whose terms are cached or absent, runs
    NO Spark job; above the budget it is one job, the scatter.

    Snapshot contract: the reader serves the index AS OF open —
    bparts appended by ``append_docs`` after open (and docs removed by
    ``compact_index``'s rewrite) are not visible until reopen (the
    driver maps and the cached relations are all open-time snapshots,
    tf weights included). Tombstones ARE re-read per search and masked
    at score time (deletes mask immediately, cached postings included).
    Same contract as ``similarity.IvfReader``."""

    # the bound of each driver map, counted on its own: the term cache
    # in postings (12 B each plus ≈0.8 KB per decoded term, so ≈0.4 GB
    # at worst, all df-1 terms), the vocabulary and docmap maps in rows
    # (≈165 B and ≈150 B each, ≈0.16 GB for both)
    TERM_CACHE_MAX_POSTINGS = 500_000

    def __init__(self, spark: SparkSession, index_dir: str) -> None:
        self.spark = spark
        self.index_dir = index_dir
        self.meta = load_meta(index_dir)
        # the postings cache is hash-partitioned by shard, so the
        # per-query groupBy("shard") plans no Exchange (uncached, it
        # would shuffle the whole table on every query); the scatter of
        # searches above the driver budget reads it
        self._postings = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(
            f"{index_dir}/postings").repartition(
            spark.sparkContext.defaultParallelism, "shard").persist()
        self._df_cache = _DriverMap(self.TERM_CACHE_MAX_POSTINGS)
        self._vocab = self._table_map(
            spark.read.schema(VOCABULARY_SCHEMA).parquet(
                f"{index_dir}/vocabulary"),
            self.meta["n_vocab_terms"], _vocab_entries)
        # the docmap keeps tombstoned rows until compaction
        self._docmap = self._table_map(
            read_docmap(spark, index_dir).select("doc_int", "doc_id",
                                                 "bpart"),
            self.meta["n_docs"] + len(load_tombstones(index_dir)),
            lambda rows: {di: d for di, d, _ in rows})

    def _table_map(self, rel: DataFrame, n_rows: int,
                   entries) -> _DriverMap:
        """The driver map of one table: the whole table, collected now
        through Arrow (a JVM-only job), when its ``n_rows`` fit the
        bound; else an empty map over the table's relation, cached in
        executor memory like the postings, which each lookup of unseen
        keys scans."""
        limit = self.TERM_CACHE_MAX_POSTINGS
        if n_rows <= limit:
            return _DriverMap(limit, entries(zip(*(
                c.to_pylist() for c in rel.toArrow().columns))))
        return _DriverMap(limit, rel=rel.persist())

    def search(self, queries: str | Sequence[str], k: int = 10,
               scorer: str = "taat", mode: str = "or") -> DataFrame:
        """Like :func:`search_index`, over the warm caches: ``scorer``
        picks the scatter's kernel only, a driver-site search always
        runs TAAT."""
        return _search(self.spark, self.meta, self.index_dir, queries, k,
                       scorer, mode, reader=self)

    def search_rows(self, queries: str | Sequence[str], k: int = 10,
                    scorer: str = "taat",
                    mode: str = "or") -> "list[tuple[int, str, float]]":
        """Like :meth:`search` but returns the final (query_id, doc_id,
        score) tuples driver-side. On the warm driver-cut path the
        winners are already driver-local, so this skips building a
        result frame and collecting it back (the serve loop and the
        hybrid fold consume rows, not a frame)."""
        return _search(self.spark, self.meta, self.index_dir, queries, k,
                       scorer, mode, reader=self, return_rows=True)

    def close(self) -> None:
        for rel in (self._postings, self._vocab.rel, self._docmap.rel):
            if rel is not None:
                rel.unpersist()


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
    index_dir: str,
    queries: str | Sequence[str],
    k: int,
    scorer: str,
    mode: str = "or",
    reader: IndexReader | None = None,
    return_rows: bool = False,
) -> DataFrame:
    """One search, one-shot (``reader=None``) or over a warm reader's
    postings relation, driver maps and term cache.

    ``return_rows=True`` returns the final results as a driver list
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
    postings = term_cache = None
    vocab, docmap = _DriverMap(0), _DriverMap(0)  # one-shot: no memo
    if reader is not None:
        postings, vocab, docmap = reader._postings, reader._vocab, \
            reader._docmap
        term_cache = reader._df_cache

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
    # per search), then look up their df
    from ..functions.hashing import spark_xxhash64_str, spark_xxhash64_str_int
    from .postings import TERM_HASH_SEED2

    term_to_hash = {
        t: (
            spark_xxhash64_str(t),
            spark_xxhash64_str_int(t, TERM_HASH_SEED2),
        )
        for t in all_terms
    }
    # df and the containing-bpart list per term: from the reader's
    # vocabulary map, else from a lookup job (absent terms have no
    # entry). idf is derived fresh from df + current n_docs, so
    # collection stats are never cached. The merged vocabulary carries
    # each term's global df AND its (capped) containing-bpart list,
    # written at finalize — the part-level pruning input (VERDICT r5
    # #3: postings are doc-range-sharded, so without it every search
    # opens every bpart's footers; at 10^4+ parts that fan-out is the
    # latency floor for selective queries).
    found = vocab.lookup(term_to_hash.values(), lambda hs: _vocab_lookup(
        spark, index_dir, hs, vocab.rel))
    df_by_hash = {h: df for h, (df, _) in found.items()}
    parts_by_hash = {h: parts for h, (_, parts) in found.items()}
    for h, df in df_by_hash.items():
        if n_docs - df + 0.5 <= 0:
            raise ValueError(
                f"term df={df} exceeds collection size N={n_docs} — the "
                "index has uncompacted deletions/updates whose stale df "
                "breaks the ln-IDF domain; run compact_index first"
            )
    idf_by_hash = {
        h: math.log((n_docs - df + 0.5) / (df + 0.5))
        for h, df in df_by_hash.items()
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
        if parts is not None and postings is None:
            # one-shot path (r7): build the relation from the live bpart
            # directories EXPLICITLY instead of filtering a root read —
            # root relation creation LISTS every partition directory
            # before PartitionFilters apply (measured ~1 s at 505 local
            # parts, and a per-query 10⁴-prefix listing on an object
            # store), all of it for directories the filter then
            # discards. A warm IndexReader amortizes discovery in its
            # persisted postings relation; this gives the cold path the
            # same locality.
            return spark.read.schema(POSTINGS_READ_SCHEMA).option(
                "basePath", f"{index_dir}/postings"
            ).parquet(*[
                f"{index_dir}/postings/bpart={int(p)}" for p in parts
            ]).filter(_in_ints("th1", h1s))
        rel = postings if postings is not None else spark.read.schema(
            POSTINGS_READ_SCHEMA).parquet(f"{index_dir}/postings")
        rel = rel.filter(_in_ints("th1", h1s))
        if parts is not None:
            rel = rel.filter(_in_ints("bpart", parts))
        return rel

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
            dfs_q = [df_by_hash[h] for h, _ in qterms]
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
        post_by_hash = {h: term_cache[h] for h in idf_by_hash
                        if term_cache is not None and h in term_cache}
        fetch = [h for h in idf_by_hash if h not in post_by_hash]
        if fetch:
            got = _decode_arrow(scan(fetch).toArrow(), k1, b, avgdl)
            for h in fetch:
                post_by_hash[h] = got.get(h, {})
                if term_cache is not None:
                    term_cache.put(h, df_by_hash[h], post_by_hash[h])
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
    # winners are driver-known ids → hydrate driver-side: from the
    # reader's docmap map, else one pruned docmap scan (no join job).
    # The docmap is sorted by doc_int, so the IN filter prunes to the
    # few row groups holding the winners.
    doc_ids = docmap.lookup(
        sorted({int(r["doc_int"]) for r in top_rows}),
        lambda ids: dict(_docmap_for_ids(spark, index_dir, ids, meta,
                                         docmap.rel)
                         .select("doc_int", "doc_id").collect()))
    by_q: dict[int, list[tuple[float, str]]] = {}
    for r in top_rows:
        di = int(r["doc_int"])
        did = doc_ids.get(di)
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
