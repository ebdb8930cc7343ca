"""Compressed-index build + scatter-gather search: round-trip vs the
relational rows, salting/sharding behavior, rank+score identity vs the
oracle, and build metrics."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from oboyu_spark.operators import termindex as TI
from oboyu_spark.operators.postings import CODEC_VERSION, build_index, load_meta
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.oracle.pybm25 import PyBM25
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs

QUERIES = [
    "spark index search",
    "検索 索引",
    "分散 shuffle partition engine",
    "圧縮 varbyte posting",
    "missing_term_xyz",
    "spark spark query",
]


@pytest.fixture(scope="module")
def corpus(spark):
    tr = synthesize_transcripts(spark, n_convs=80, max_turns=10, seed=42)
    return turns_as_docs(tr).select("doc_id", "text")


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    # tiny shard/salt sizes to force multi-shard + salting paths
    meta = build_index(corpus, d, shard_size=100, salt_chunk=50,
                       id_assign_partitions=4)
    assert meta["n_docs"] == corpus.count()
    return d


def test_meta_metrics(index_dir):
    meta = load_meta(index_dir)
    assert meta["n_postings"] > 0
    assert meta["posting_rows"] > 0
    assert meta["compressed_payload_bytes"] > 0
    assert meta["docs_per_sec"] > 0
    assert meta["avgdl"] > 0


def test_sharding_and_salting(spark, index_dir):
    postings = spark.read.parquet(f"{index_dir}/postings")
    assert postings.select("shard").distinct().count() > 1
    # hot terms (df > salt_chunk=50) must be split into >1 salt chunk
    vocab = spark.read.parquet(f"{index_dir}/vocabulary")
    hot_h1 = [
        r["th1"]
        for r in vocab.filter(F.col("document_frequency") > 50).collect()
    ]
    assert hot_h1
    max_salts = (
        postings.filter(F.col("th1").isin(hot_h1))
        .groupBy("shard", "th1")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_salts > 1, "expected salted chunks for high-df terms"
    # chunk sizes bounded: no group hugely over salt target within shard
    assert postings.agg(F.max("n")).collect()[0][0] <= 100  # <= shard_size


def test_decode_roundtrip_vs_relational(spark, corpus, tmp_path):
    """Decoded postings == the relational (doc, term, tf, dl) rows, and
    every block array == numpy per-128 slices of the decoded lists —
    over a corpus with a multi-block, salted group."""
    from oboyu_spark.operators.postings import term_hash_cols

    hot = spark.createDataFrame(
        [(f"zzhot#{i:03d}", "zzhot " + "spark " * (i % 5)) for i in range(700)],
        "doc_id string, text string")
    docs = corpus.unionByName(hot)
    d = str(tmp_path / "roundtrip_idx")
    shard_size = 1000
    build_index(docs, d, shard_size=shard_size, salt_chunk=150,
                id_assign_partitions=4)
    docmap = {
        r["doc_id"]: (r["doc_int"], r["dl"])
        for r in spark.read.parquet(f"{d}/docmap").collect()
    }
    dl_of = dict(docmap.values())
    got = {}
    multi_block_salted = False
    for r in spark.read.parquet(f"{d}/postings").collect():
        gaps = np.array(r["gaps"], dtype=np.int64)
        local = np.cumsum(gaps)
        tfs = np.array(r["tfs"], dtype=np.int64)
        dls = np.array(r["dls"], dtype=np.int64)
        n = r["n"]
        assert local.size == n == tfs.size == dls.size > 0
        assert local[0] >= 0 and (gaps[1:] > 0).all()  # strictly ascending
        assert local[-1] < shard_size
        ids = local + r["shard"] * shard_size
        starts = np.arange(0, n, 128)
        assert r["block_last"] == [int(ids[min(s + 128, n) - 1]) for s in starts]
        assert r["block_maxtf"] == [int(tfs[s:s + 128].max()) for s in starts]
        assert r["block_mindl"] == [int(dls[s:s + 128].min()) for s in starts]
        multi_block_salted |= n > 128 and r["salt"] > 0
        for di, t, dl in zip(ids.tolist(), tfs.tolist(), dls.tolist()):
            assert dl == dl_of[di]
            key = ((r["th1"], r["th2"]), di)
            assert key not in got  # salt chunks are doc-disjoint
            got[key] = t
    assert multi_block_salted, "the corpus must hold a multi-block salted group"

    tf_rows = TI.term_frequencies(docs).collect()
    # map expected term strings to the build's 128-bit hash pairs
    terms = sorted({r["term"] for r in tf_rows})
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    t2h = {
        r["term"]: (r["th1"], r["th2"])
        for r in tdf.select("term", *term_hash_cols(F.col("term"))).collect()
    }
    expected = {
        (t2h[r["term"]], docmap[r["doc_id"]][0]): r["tf"] for r in tf_rows
    }
    assert got == expected


def test_search_matches_oracle(spark, corpus, index_dir):
    docs_local = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    oracle = PyBM25()
    oracle.index(docs_local)

    res = search_index(spark, index_dir, QUERIES, k=12).collect()
    by_q: dict[int, list] = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=12)
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-9), q


def test_search_single_query_string(spark, index_dir):
    res = search_index(spark, index_dir, "spark index", k=5).collect()
    assert 0 < len(res) <= 5
    scores = [r["score"] for r in res]
    assert scores == sorted(scores, reverse=True)


def test_search_no_matching_terms(spark, index_dir):
    assert search_index(spark, index_dir, "zzz qqq", k=5).count() == 0


def test_conjunctive_mode(spark, corpus, index_dir):
    docs_local = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    oracle = PyBM25()
    oracle.index(docs_local)
    for q in ["spark index", "検索 索引", "spark zzz_missing", "分散 処理 高速"]:
        got = search_index(spark, index_dir, q, k=15, mode="and").collect()
        exp = oracle.search(q, k=15, mode="and")
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], q
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9), q
        # AND results ⊆ OR results
        or_docs = {r["doc_id"]
                   for r in search_index(spark, index_dir, q, k=1000).collect()}
        assert {r["doc_id"] for r in got} <= or_docs


def test_no_vocab_parts_after_build_append_compact(spark, corpus, index_dir,
                                                   tmp_path):
    """The postings are the one source of term statistics: build,
    append and delete + compact write no per-part vocabulary table, and
    the finalized vocabulary still serves searches."""
    import shutil

    from oboyu_spark.operators.postings import (
        append_docs,
        compact_index,
        delete_docs,
    )

    d = str(tmp_path / "no_vocab_parts_idx")
    shutil.copytree(index_dir, d)
    assert not os.path.exists(f"{d}/vocab_parts"), "build"
    append_docs(corpus.limit(20).select(
        F.concat(F.lit("new-"), "doc_id").alias("doc_id"), "text"), d)
    assert not os.path.exists(f"{d}/vocab_parts"), "append"
    delete_docs(spark, d, [r["doc_id"] for r in corpus.limit(3).collect()])
    compact_index(spark, d)
    assert not os.path.exists(f"{d}/vocab_parts"), "compact"
    meta = load_meta(d)
    assert meta["n_vocab_terms"] == spark.read.parquet(
        f"{d}/vocabulary").count() > 0
    assert search_index(spark, d, "spark index", k=5).count() == 5


def test_older_codec_version_refused_everywhere(spark, corpus, index_dir,
                                                tmp_path):
    """load_meta is the one layout gate: an index whose meta.json
    carries another codec_version (here the previous one) is refused by
    every entry point before it reads or mutates anything."""
    import json
    import shutil

    from oboyu_spark.operators.postings import (
        append_docs,
        compact_index,
        delete_docs,
        sync_docs,
    )
    from oboyu_spark.operators.searchidx import IndexReader

    old = str(tmp_path / "old_codec_idx")
    shutil.copytree(index_dir, old)
    with open(f"{old}/stats/meta.json") as fh:
        meta = json.load(fh)
    meta["codec_version"] = CODEC_VERSION - 1
    with open(f"{old}/stats/meta.json", "w") as fh:
        json.dump(meta, fh)
    before = sorted(os.listdir(old))

    docs = corpus.limit(3)
    for call in (
        lambda: search_index(spark, old, "spark index"),
        lambda: IndexReader(spark, old),
        lambda: append_docs(docs, old),
        lambda: delete_docs(spark, old, ["x"]),
        lambda: sync_docs(docs, old),
        lambda: compact_index(spark, old),
    ):
        with pytest.raises(ValueError, match="rebuild"):
            call()
    assert sorted(os.listdir(old)) == before  # nothing was written


def test_oneshot_search_job_count(spark, index_dir, monkeypatch):
    """One single-query search_index is 3 Spark jobs: the df lookup
    (1), the Arrow collect of the pruned postings, scored on the driver
    (1), and the docmap hydration (1). With Σdf above the driver budget
    the scatter replaces the collect and runs two AQE jobs, so the
    search is 4 jobs. The postings, vocabulary and docmap reads declare
    their schemas, so they run no footer-inference job, and the result
    is an Arrow-built LocalRelation, whose collect runs no job."""
    import gc

    from oboyu_spark.operators import searchidx as SI

    q = "spark index search"
    warm = search_index(spark, index_dir, q, k=5).collect()
    sc = spark.sparkContext

    def pinned_jobs(group):
        # keep cyclic GC out of the pinned window: py4j finalizers it
        # runs mid-call can route a call over another gateway
        # connection, whose JVM thread does not carry the job group
        gc.collect()
        gc.disable()
        sc.setJobGroup(group, "one-shot search")
        try:
            rows = search_index(spark, index_dir, q, k=5).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            gc.enable()
        assert rows == warm and len(rows) == 5
        return sc.statusTracker().getJobIdsForGroup(group)

    jobs = pinned_jobs("oneshot_pin")
    assert len(jobs) == 3, f"one-shot search ran {len(jobs)} jobs: {jobs}"
    meta = load_meta(index_dir)
    n_shards = -(-meta["n_docs"] // meta["shard_size"])
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", n_shards * 5)
    jobs = pinned_jobs("oneshot_scatter_pin")
    assert len(jobs) == 4, f"scattered search ran {len(jobs)} jobs: {jobs}"


def test_sync_job_count(spark, corpus, index_dir, tmp_path):
    """A sync with new, modified and deleted docs and compaction is ONE
    mutation step: the diff collect, the staging of the new rows, one
    part loop over the rebuilt and the new part, and one finalize —
    52 Spark jobs on this corpus. When a sync chained
    delete_docs → append_docs → compact_index (a docmap re-scan, a
    Python-row key frame, two part loops and two finalizes) the same
    sync ran 62 jobs."""
    import gc
    import shutil

    from oboyu_spark.operators.postings import sync_docs

    rows = sorted((r["doc_id"], r["text"]) for r in corpus.collect())
    feed = [(k, t + " revised spark text" if i % 41 == 3 else t)
            for i, (k, t) in enumerate(rows) if i % 53 != 7]
    feed += [(f"new#{i}", f"fresh spark index doc {i}") for i in range(5)]
    feed_df = spark.createDataFrame(feed, "doc_id string, text string")
    sc = spark.sparkContext
    d = str(tmp_path / "sync_jobs")
    shutil.copytree(index_dir, d)
    # keep cyclic GC out of the pinned window (see the one-shot pin)
    gc.collect()
    gc.disable()
    sc.setJobGroup("sync_pin", "sync")
    try:
        out = sync_docs(feed_df, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        gc.enable()
    n_mod = sum(1 for i in range(len(rows)) if i % 41 == 3 and i % 53 != 7)
    n_del = sum(1 for i in range(len(rows)) if i % 53 == 7)
    assert (out["new"], out["modified"], out["deleted"]) == (5, n_mod, n_del)
    assert out["meta"]["n_docs"] == len(feed)
    jobs = sc.statusTracker().getJobIdsForGroup("sync_pin")
    assert len(jobs) == 52, f"sync ran {len(jobs)} jobs: {sorted(jobs)}"


def test_index_reader_matches_oneshot(spark, index_dir):
    from oboyu_spark.operators.searchidx import IndexReader

    reader = IndexReader(spark, index_dir)
    try:
        for q in ["spark index", "検索 索引", "zzz"]:
            a = [(r["doc_id"], r["score"])
                 for r in search_index(spark, index_dir, q, k=8).collect()]
            b = [(r["doc_id"], r["score"])
                 for r in reader.search(q, k=8).collect()]
            assert a == b, q
    finally:
        reader.close()


def test_index_reader_snapshot_contract(spark, corpus, index_dir, tmp_path):
    """An IndexReader serves the index as of open: docs appended after
    open stay invisible until reopen, while tombstones are re-read per
    search, so a delete after open masks on the next search. A reopened
    reader sees the appended docs and agrees with the one-shot path."""
    import shutil

    from oboyu_spark.operators.postings import append_docs, delete_docs
    from oboyu_spark.operators.searchidx import IndexReader

    d = str(tmp_path / "snapshot_idx")
    shutil.copytree(index_dir, d)
    q = "zzsnapshot spark index"
    new_ids = [f"new-{r['doc_id']}" for r in corpus.limit(4).collect()]
    reader = IndexReader(spark, d)
    try:
        before = reader.search_rows(q, k=5)
        assert len(before) == 5
        append_docs(spark.createDataFrame(
            [(i, "zzsnapshot zzsnapshot spark index") for i in new_ids],
            "doc_id string, text string"), d)
        assert reader.search_rows(q, k=5) == before
        assert reader.search_rows("zzsnapshot", k=5) == []
        victim = before[0][1]
        delete_docs(spark, d, [victim])
        after_delete = reader.search_rows(q, k=5)
        assert after_delete and victim not in {r[1] for r in after_delete}
    finally:
        reader.close()

    reopened = IndexReader(spark, d)
    try:
        rows = reopened.search_rows(q, k=5)
        assert {r[1] for r in rows} >= set(new_ids)
        assert rows == [(r["query_id"], r["doc_id"], r["score"])
                        for r in search_index(spark, d, q, k=5).collect()]
    finally:
        reopened.close()


def test_gather_paths_identical(spark, corpus, index_dir, monkeypatch):
    """Driver scoring + driver rank cut (the default at this size) and
    scatter + Spark rank window (budget 0, cluster scale) must return
    identical results, as a frame and as rows."""
    from oboyu_spark.operators import searchidx as SI

    fast = search_index(spark, index_dir, QUERIES, k=7).collect()
    reader = SI.IndexReader(spark, index_dir, cache=False)
    fast_rows = reader.search_rows(QUERIES, k=7)
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)  # scatter + window
    slow = search_index(spark, index_dir, QUERIES, k=7).collect()
    slow_rows = reader.search_rows(QUERIES, k=7)
    reader.close()
    key = lambda r: (r["query_id"], r["doc_id"], round(r["score"], 12))
    assert sorted(map(key, fast)) == sorted(map(key, slow))
    # the rows API returns the same results through BOTH gather paths
    rkey = lambda t: (t[0], t[1], round(t[2], 12))
    assert sorted(map(rkey, fast_rows)) == sorted(map(key, fast))
    assert sorted(map(rkey, slow_rows)) == sorted(map(rkey, fast_rows))


def test_part_pruning_equivalence(spark, corpus, tmp_path, monkeypatch):
    """Part pruning is a pure optimization: on a genuinely multi-part
    index, every query shape (rare-only — where pruning engages,
    mixed, hot-only, conjunctive, BMW scorer) returns results
    identical to the legacy scan-everything path (the plan gate
    test_search_prunes_parts_by_term pins the plan; this pins the
    RESULTS at realistic corpus shape)."""
    from oboyu_spark.operators import searchidx as SI

    rare = spark.createDataFrame(
        [(f"rare#{i:02d}",
          f"zz{'abcdef'[i % 6]} spark index search engine")
         for i in range(24)],
        "doc_id string, text string",
    )
    docs = corpus.unionByName(rare)
    d = str(tmp_path / "multi")
    meta = build_index(docs, d, shard_size=100, salt_chunk=50,
                       shards_per_part=2, id_assign_partitions=4)
    assert meta["n_parts"] >= 3, "need a multi-part index for this pin"

    queries = [
        "zzabc zzb",            # rare-only (terms min_token_length>=2)
        "zza zzc",              # rare-only pair
        "zza spark index",      # mixed rare + hot
        "spark index search",   # hot-only
        "missing_term_xyz",     # no match
    ]

    def run(**kw):
        out = []
        for q in queries:
            rows = search_index(spark, d, q, k=12, **kw).collect()
            out.append((q, tuple(kw.items()), sorted(
                (r["query_id"], r["doc_id"], round(r["score"], 12))
                for r in rows)))
        return out

    pruned = run() + run(scorer="bmw") + run(mode="and")
    # the rare-only query really pruned: strict subset of parts
    search_index(spark, d, "zza zzb", k=5).collect()
    live = SI.last_scan_info()["live_parts"]
    assert live is not None and 0 < len(live) < meta["n_parts"], \
        SI.last_scan_info()

    monkeypatch.setattr(SI, "PART_PRUNE_MAX_UNION", -1)  # legacy scan
    legacy = run() + run(scorer="bmw") + run(mode="and")
    assert SI.last_scan_info()["live_parts"] is None
    assert pruned == legacy


def test_pretokenized_build_matches_text_build(spark, corpus, index_dir,
                                               tmp_path):
    """A build over a PRE-TOKENIZED corpus (array<string> text column,
    produced by the same tokenizer) must yield the identical index —
    same meta counts, same search results — with the tokenizer pass
    skipped (the compute-phase isolation path scaling_bench measures;
    VERDICT r6 #7)."""
    from oboyu_spark.operators.termindex import with_tokens

    pre = with_tokens(corpus).select("doc_id",
                                     F.col("tokens").alias("text"))
    d = str(tmp_path / "pretok_idx")
    meta = build_index(pre, d, shard_size=100, salt_chunk=50,
                       id_assign_partitions=4)
    base = load_meta(index_dir)
    assert meta["n_docs"] == base["n_docs"]
    assert meta["total_terms"] == base["total_terms"]
    assert meta["n_postings"] == base["n_postings"]
    for q in ["spark query join", "table scan fast"]:
        a = [(r["doc_id"], round(r["score"], 9)) for r in
             search_index(spark, index_dir, q, k=10).collect()]
        b = [(r["doc_id"], round(r["score"], 9)) for r in
             search_index(spark, d, q, k=10).collect()]
        assert a == b, q


def test_driver_and_scatter_sites_identical(spark, corpus, tmp_path,
                                            monkeypatch):
    """Scoring runs at two sites: the driver's TAAT kernel over
    Arrow-collected postings while Σdf over the live terms fits
    DRIVER_CUT_MAX_ROWS, else the scorer closure inside the
    applyInPandas scatter (where an auto batch splits into a mixed
    one). On a multi-shard, multi-part index with tombstones, for taat,
    bmw, auto and mode="and", a warm reader first collects its
    terms' rows once, then — after a delete — takes them all from its
    term cache (no collect). Those rows are bit-identical to the
    one-shot path, to a reader whose term cache is bounded to 0, to the
    scatter with the driver cut (budget = the candidate count: Σdf is
    above it) and to the scatter with the Spark rank window (budget 0).
    A term whose df exceeds the budget is cached as df and bparts only,
    and every search that uses it scatters."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from oboyu_spark.functions.hashing import (spark_xxhash64_str,
                                               spark_xxhash64_str_int)
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import (TERM_HASH_SEED2, append_docs,
                                                delete_docs)

    d = str(tmp_path / "sites_idx")
    build_index(corpus, d, shard_size=100, salt_chunk=50,
                shards_per_part=2, id_assign_partitions=4)
    victims = [r["doc_id"]
               for r in search_index(spark, d, "spark index", k=3).collect()]
    append_docs(spark.createDataFrame(
        [(f"zzsel#{i}", "zzsel spark index search") for i in range(3)],
        "doc_id string, text string"), d)
    delete_docs(spark, d, victims + ["zzsel#0"])
    meta = load_meta(d)
    assert meta["n_parts"] >= 3
    n_shards = -(-meta["n_docs"] // meta["shard_size"])
    assert n_shards >= 3
    # 100-doc shards count as big, so the auto batch splits: the zzsel
    # query (df 3) is selective, the others are hot
    monkeypatch.setattr(SI, "AUTO_BMW_MIN_SHARD", meta["shard_size"])
    queries = ["zzsel spark", "spark index search",
               "分散 shuffle partition engine", "missing_term_xyz"]
    k = 6
    scatters, arrows = [], []
    real_apply = PandasGroupedOpsMixin.applyInPandas
    real_arrow = ClassicDataFrame.toArrow

    def spy(self, *a, **kw):
        scatters.append(1)
        return real_apply(self, *a, **kw)

    def to_arrow(self):
        arrows.append(1)
        return real_arrow(self)

    monkeypatch.setattr(PandasGroupedOpsMixin, "applyInPandas", spy)
    monkeypatch.setattr(ClassicDataFrame, "toArrow", to_arrow)

    def run(reader, oneshot=True, site="driver"):
        """Warm rows and one-shot rows per scorer, and how many
        collects the warm searches ran. The auto batch splits where
        the dispatch runs, in the scatter."""
        warm, cold, collects = [], [], 0
        for scorer, mode in [("taat", "or"), ("bmw", "or"),
                             ("auto", "or"), ("taat", "and")]:
            n = len(arrows)
            warm.append(reader.search_rows(queries, k=k, scorer=scorer,
                                           mode=mode))
            collects += len(arrows) - n
            info = SI.last_scan_info()
            assert info["site"] == site
            if scorer == "auto" and site == "scatter":
                assert info["auto_scorer"] == "mixed"
            else:
                assert "auto_scorer" not in info
            if oneshot:
                cold.append([tuple(r) for r in search_index(
                    spark, d, queries, k=k, scorer=scorer,
                    mode=mode).collect()])
        return warm, cold, collects

    def key(term):
        return (spark_xxhash64_str(term),
                spark_xxhash64_str_int(term, TERM_HASH_SEED2))

    budget = SI.DRIVER_CUT_MAX_ROWS
    reader = SI.IndexReader(spark, d)
    try:
        first, first_cold, collects = run(reader)
        assert first == first_cold
        assert collects == 1  # the first search collects every term
        assert {r[1] for r in first[0] if r[0] == 0} >= {"zzsel#1",
                                                          "zzsel#2"}
        # a delete after open masks the term cache's rows too
        second = [r[1] for r in first[0]
                  if r[0] == 1 and "zzsel" not in r[1]][:1] + ["zzsel#2"]
        delete_docs(spark, d, second)
        driver, cold, collects = run(reader)
        assert not scatters
        assert collects == 0  # every term's rows come from the cache
        assert driver == cold

        cache_max = SI.IndexReader.TERM_CACHE_MAX_POSTINGS
        monkeypatch.setattr(SI.IndexReader, "TERM_CACHE_MAX_POSTINGS", 0)
        uncached = SI.IndexReader(spark, d)
        monkeypatch.setattr(SI.IndexReader, "TERM_CACHE_MAX_POSTINGS",
                            cache_max)
        try:
            nocache, _, collects = run(uncached, oneshot=False)
            assert collects == 4 and len(uncached._df_cache) == 0
        finally:
            uncached.close()

        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS",
                            len(queries) * n_shards * k)
        cut, cut_cold, _ = run(reader, site="scatter")
        assert len(scatters) == 8
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
        window, window_cold, _ = run(reader, site="scatter")
        assert len(scatters) == 16

        # a single-term search within the budget scores on the driver,
        # and caches its rows; "spark" is above it
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", budget)
        single = ["spark", "zzsel", "zzsel spark", "spark"]
        expected = [reader.search_rows(q, k=k) for q in single]
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", n_shards * k)
        small = SI.IndexReader(spark, d)
        try:
            n = len(scatters)
            assert [small.search_rows(q, k=k) for q in single] == expected
            assert len(scatters) == n + 3
            df_hot, parts_hot, rows_hot = small._df_cache[key("spark")]
            df_sel, parts_sel, rows_sel = small._df_cache[key("zzsel")]
        finally:
            small.close()
    finally:
        reader.close()
    assert df_hot > n_shards * k and rows_hot is None and parts_hot
    assert df_sel == 3 and len(rows_sel) and parts_sel
    assert all(driver)
    deleted = set(victims + ["zzsel#0"] + second)
    assert not deleted & {r[1] for rows in driver for r in rows}
    assert "zzsel#1" in {r[1] for r in driver[0] if r[0] == 0}
    assert nocache == driver
    assert cut == cut_cold == driver
    assert window == window_cold == driver


def test_arrow_decoder_equals_decode_rows(spark, index_dir):
    """The driver's Arrow decoder gives, per term and shard, the ids and
    tf weights of the scatter's pandas decoder (_decode_rows, its salt
    chunks joined), bit for bit: over every posting row of a multi-shard
    index with multi-salt terms, a multi-chunk table, rows with empty
    lists, and tombstones (masked after the Arrow decode, during the
    pandas one)."""
    import pyarrow as pa

    from oboyu_spark.operators.postings import POSTINGS_READ_SCHEMA
    from oboyu_spark.operators.searchidx import _decode_arrow, _decode_rows

    meta = load_meta(index_dir)
    k1, b, avgdl, size = meta["k1"], meta["b"], meta["avgdl"], \
        meta["shard_size"]
    real = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(
        f"{index_dir}/postings").toArrow()
    empty = real.slice(0, 2).to_pylist()
    for i, r in enumerate(empty):  # two empty salt rows of a new term
        r.update(th1=7, th2=11, salt=9 + i, n=0, gaps=[], tfs=[], dls=[])
    tbl = pa.concat_tables([real, pa.Table.from_pylist(empty, real.schema)])
    assert tbl.column("gaps").num_chunks > 1
    pdf = tbl.to_pandas()
    assert (pdf.groupby(["shard", "th1", "th2"]).size() > 1).any()
    got = _decode_arrow(tbl, k1, b, avgdl)
    assert all(ids.size == wtf.size == 0
               for ids, wtf in got[(7, 11)].values())
    doc_ints = sorted(
        int(s) * size + int(np.cumsum(g)[0])
        for s, g in zip(pdf["shard"], pdf["gaps"]) if len(g))
    for tomb in (None, np.array(doc_ints[::7], dtype=np.int64)):
        pairs = 0
        for shard, grp in pdf.groupby("shard"):
            base = int(shard) * size
            want = _decode_rows(grp, base, k1, b, avgdl, tomb)
            for term, chunks in want.items():
                ids, wtf = got[term][int(shard)]
                assert ids.dtype == np.int32 and wtf.dtype == np.float64
                if tomb is not None:
                    keep = ~np.isin(ids.astype(np.int64) + base, tomb)
                    ids, wtf = ids[keep], wtf[keep]
                assert np.array_equal(ids, np.concatenate(
                    [c[0] for c in chunks])), (term, shard)
                assert np.array_equal(wtf, np.concatenate(
                    [c[1] for c in chunks])), (term, shard)
                pairs += 1
        assert pairs == sum(len(v) for v in got.values())


def test_dense_kernel_matches_oracle(spark, tmp_path):
    """The driver's dense TAAT kernel (one-shot and warm reader) ranks
    and scores like the PyBM25 oracle on negative-IDF terms (df > N/2)
    and in mode="and", with tombstones, and after a delete that follows
    the reader's open: deletes only mask, so the oracle indexes every
    doc and drops the deleted ones from its ranking."""
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import delete_docs

    words = ["common", "half", "rare", "pad", "filler"]
    rows = [(f"d{i:02d}", " ".join(
        ["common"] * (1 + i % 3) + ["half"] * (i % 4 < 3) * (1 + i % 2)
        + ["rare"] * (i % 13 == 0) + [words[3 + i % 2]] * (i % 5)))
        for i in range(48)]
    d = str(tmp_path / "negidf")
    build_index(spark.createDataFrame(rows, "doc_id string, text string"), d,
                shard_size=8, salt_chunk=3, shards_per_part=2,
                id_assign_partitions=4)
    oracle = PyBM25()
    oracle.index(rows)
    assert oracle.idf("common") < 0 and oracle.idf("half") < 0
    queries = ["common half", "half rare", "common common rare pad",
               "rare filler", "common zz_missing"]

    def expect(q, mode, gone):
        exp = [x for x in oracle.search(q, k=100, mode=mode)
               if x[0] not in gone]
        return exp[:6]

    def check(got, mode, gone):
        for qid, q in enumerate(queries):
            g = [(dd, sc) for qq, dd, sc in got if qq == qid]
            exp = expect(q, mode, gone)
            assert [x for x, _ in g] == [x for x, _ in exp], (q, mode)
            for (_, gs), (_, es) in zip(g, exp):
                assert gs == pytest.approx(es, rel=1e-9), (q, mode)

    delete_docs(spark, d, ["d00", "d05", "d26"])
    gone = {"d00", "d05", "d26"}
    reader = SI.IndexReader(spark, d)
    try:
        for mode in ("or", "and"):
            check(reader.search_rows(queries, k=6, mode=mode), mode, gone)
            assert SI.last_scan_info()["site"] == "driver"
            check([tuple(r) for r in search_index(
                spark, d, queries, k=6, mode=mode).collect()], mode, gone)
            assert SI.last_scan_info()["site"] == "driver"
        delete_docs(spark, d, ["d13", "d39", "d02"])
        gone |= {"d13", "d39", "d02"}
        for mode in ("or", "and"):
            check(reader.search_rows(queries, k=6, mode=mode), mode, gone)
    finally:
        reader.close()


def test_term_cache_bound(spark, index_dir, monkeypatch):
    """The reader's term cache holds at most TERM_CACHE_MAX_POSTINGS
    cached postings (df per row-cached term, one per other entry). A
    stream whose terms need three times the bound stops filling it —
    the count never exceeds the bound and always equals the entries' —
    and every answer equals an unbounded reader's."""
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.sources.transcripts import WORDS

    stream = QUERIES + list(WORDS[:24]) + QUERIES
    full = SI.IndexReader(spark, index_dir)
    try:
        expected = [full.search_rows(q, k=5) for q in stream]
        need = full._df_cache.postings
    finally:
        full.close()
    limit = need // 3
    monkeypatch.setattr(SI.IndexReader, "TERM_CACHE_MAX_POSTINGS", limit)
    reader = SI.IndexReader(spark, index_dir)
    try:
        got = []
        for q in stream:
            got.append(reader.search_rows(q, k=5))
            cache = reader._df_cache
            assert cache.postings <= limit
            assert cache.postings == sum(
                1 if e is None or e[2] is None else e[0]
                for e in cache.values())
    finally:
        reader.close()
    assert got == expected

    def row_cached(c):
        return sum(e is not None and e[2] is not None for e in c.values())

    assert row_cached(cache) < row_cached(full._df_cache)


def test_term_cache_put_is_atomic():
    """Concurrent searches on one reader fill its term cache from
    several threads: with more threads than cores and a short switch
    interval, overlapping puts (df-only entries, then row entries)
    keep the count equal to the entries' and within the bound."""
    import sys
    import threading

    from oboyu_spark.operators.searchidx import _TermCache

    cache = _TermCache(5_000)
    rows = object()  # stands in for a term's rows frame

    def work(n):
        for i in range(2_000):
            h = ((n * 7 + i) % 600, 0)
            cache.put(h, (i % 9 + 1, None, None))
            cache.put(h, (i % 9 + 1, None, rows))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(n,))
                   for n in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert cache.postings <= cache.limit
    assert cache.postings == sum(1 if e is None or e[2] is None else e[0]
                                 for e in cache.values())


def _index_rows(spark, d):
    """An index as sorted plain rows: the docmap, the decoded postings
    (one row per posting) and the vocabulary."""
    size = load_meta(d)["shard_size"]
    docmap = sorted(tuple(r) for r in spark.read.parquet(f"{d}/docmap")
                    .select("doc_id", "doc_int", "dl", "fp", "bpart")
                    .collect())
    postings = []
    for r in spark.read.parquet(f"{d}/postings").collect():
        ids = np.cumsum(np.array(r["gaps"], dtype=np.int64)) \
            + r["shard"] * size
        postings.extend(
            (r["bpart"], r["shard"], r["th1"], r["th2"], r["salt"], di, tf, dl)
            for di, tf, dl in zip(ids.tolist(), r["tfs"], r["dls"]))
    vocab = sorted(
        (r["th1"], r["th2"], r["document_frequency"],
         None if r["bparts"] is None else tuple(r["bparts"]))
        for r in spark.read.parquet(f"{d}/vocabulary").collect())
    return docmap, sorted(postings), vocab


def test_rebuild_is_deterministic(spark, corpus, index_dir, tmp_path):
    """Index determinism: a second build of the same input with the same
    settings gives the identical docmap (doc_id, doc_int, dl, fp), the
    identical decoded postings and the identical vocabulary. The FILES
    may differ: the staging range-sort samples its boundaries with a
    seed derived from the RDD id, so the staged pid slices move between
    builds in one session — but ids are dense in key order, so they do
    not depend on where the slices fall. The rebuild samples one key
    per partition, so its slices differ from the first build's."""
    d = str(tmp_path / "rebuild_idx")
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    sample = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        build_index(corpus, d, shard_size=100, salt_chunk=50,
                    id_assign_partitions=4)
    finally:
        spark.conf.set(key, sample)
    docmap, postings, vocab = _index_rows(spark, d)
    base = _index_rows(spark, index_dir)
    assert docmap and postings and vocab
    assert docmap == base[0]
    assert postings == base[1]
    assert vocab == base[2]
