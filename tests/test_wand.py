"""Block-max WAND exactness: scorer="bmw" must equal scorer="taat"
(and the oracle) on every fixture — including negative-IDF fallback
queries, tie-heavy corpora, and k smaller/larger than match counts."""

from __future__ import annotations

import random

import pytest

from oboyu_spark.operators.postings import build_index
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.oracle.pybm25 import PyBM25
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs


@pytest.fixture(scope="module")
def corpus(spark):
    tr = synthesize_transcripts(spark, n_convs=80, max_turns=10, seed=7)
    return turns_as_docs(tr).select("doc_id", "text")


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idxw"))
    build_index(corpus, d, shard_size=120, salt_chunk=60, id_assign_partitions=4)
    return d


QUERIES = [
    "spark index search engine",        # common terms → negative idf → fallback
    "圧縮 varbyte",                      # selective
    "検索 索引 分散",                    # JP mix
    "posting merge compress block 統計",  # many terms
    "spark",                             # single hot term
    "評価 構築 抽出",                    # selective JP
]


def _by_query(rows):
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    return out


@pytest.mark.parametrize("k", [3, 10, 50])
def test_bmw_equals_taat(spark, index_dir, k):
    taat = _by_query(search_index(spark, index_dir, QUERIES, k=k, scorer="taat").collect())
    bmw = _by_query(search_index(spark, index_dir, QUERIES, k=k, scorer="bmw").collect())
    assert set(taat) == set(bmw)
    for qid in taat:
        assert [d for d, _ in taat[qid]] == [d for d, _ in bmw[qid]], QUERIES[qid]
        for (_, a), (_, b) in zip(taat[qid], bmw[qid]):
            assert a == pytest.approx(b, rel=1e-12), QUERIES[qid]


def test_bmw_matches_oracle(spark, corpus, index_dir):
    docs_local = [(r["doc_id"], r["text"]) for r in corpus.collect()]
    oracle = PyBM25()
    oracle.index(docs_local)
    got = _by_query(search_index(spark, index_dir, QUERIES, k=15, scorer="bmw").collect())
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=15)
        assert [d for d, _ in got.get(qid, [])] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got.get(qid, []), exp):
            assert gs == pytest.approx(es, rel=1e-9), q


def test_bmw_unit_against_bruteforce():
    """Pure-python property check of _bmw_one on random posting lists."""
    import numpy as np

    from oboyu_spark.operators.wand import _TermList, _bmw_one

    rng = random.Random(1234)
    for trial in range(40):
        n_docs = rng.randint(5, 400)
        n_terms = rng.randint(1, 5)
        k = rng.choice([1, 3, 10])
        lists = []
        brute: dict[int, float] = {}
        for _ in range(n_terms):
            df = rng.randint(1, n_docs)
            ids = np.array(sorted(rng.sample(range(n_docs), df)), dtype=np.int64)
            wtf = np.array([rng.random() for _ in range(df)])
            w = rng.random() * 3
            block = 8
            nb = (df + block - 1) // block
            blast = np.array(
                [ids[min((i + 1) * block, df) - 1] for i in range(nb)], dtype=np.int64
            )
            bmaxw = np.array(
                [wtf[i * block : (i + 1) * block].max() for i in range(nb)]
            )
            lists.append(_TermList(ids, wtf, blast, bmaxw, w))
            for d, x in zip(ids.tolist(), (w * wtf).tolist()):
                brute[d] = brute.get(d, 0.0) + x
        expected = sorted(brute.items(), key=lambda x: (-x[1], x[0]))[:k]
        got = _bmw_one(lists, k)
        assert [d for d, _ in got] == [d for d, _ in expected], f"trial {trial}"
        for (_, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12)


def test_auto_scorer_picks_by_geometry(spark, tmp_path, monkeypatch):
    """scorer="auto" (r7): BMW only on big shards with a uniformly
    selective batch (the measured win regime — BENCH.md "Block-max
    WAND: geometry decides"); small shards or hot queries keep TAAT.
    Results identical to both explicit scorers either way, and
    mode="and" stays on the TAAT intersection path. The choice is made
    where it runs, in the scatter (forced here with a zero driver
    budget); a driver-site search records no choice and answers the
    same."""
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import build_index
    from oboyu_spark.operators.searchidx import search_index

    rows = [(i, "common words shared by every document here "
             + ("rareterm " if i == 77 else "filler pad ") * 3)
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    small = str(tmp_path / "small")   # 50-doc shards -> TAAT regime
    build_index(docs, small, shard_size=50, shards_per_part=2,
                id_assign_partitions=4)
    big = str(tmp_path / "big")       # one 300-doc shard, forced into
    build_index(docs, big, shard_size=300, shards_per_part=2,
                id_assign_partitions=4)

    import oboyu_spark.operators.searchidx as S

    # the shard-size cut is an absolute doc count; scale it down so the
    # tiny fixture exercises both sides of the rule
    old = S.AUTO_BMW_MIN_SHARD
    S.AUTO_BMW_MIN_SHARD = 300
    budget = SI.DRIVER_CUT_MAX_ROWS
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
    try:
        res = search_index(spark, big, "rareterm common", k=5,
                           scorer="auto").collect()
        assert SI.last_scan_info()["auto_scorer"] == "bmw"
        assert SI.last_scan_info()["site"] == "scatter"
        for ref_scorer in ("taat", "bmw"):
            exp = search_index(spark, big, "rareterm common", k=5,
                               scorer=ref_scorer).collect()
            assert [(r.doc_id, round(r.score, 9)) for r in res] == \
                   [(r.doc_id, round(r.score, 9)) for r in exp]
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", budget)
        drv = search_index(spark, big, "rareterm common", k=5,
                           scorer="auto").collect()
        assert SI.last_scan_info()["site"] == "driver"
        assert "auto_scorer" not in SI.last_scan_info()
        assert [tuple(r) for r in drv] == [tuple(r) for r in res]
        monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
        # hot query (no selective term) -> TAAT even on big shards
        search_index(spark, big, "common filler", k=5,
                     scorer="auto").collect()
        assert SI.last_scan_info()["auto_scorer"] == "taat"
        # small shards -> TAAT even for the selective query
        search_index(spark, small, "rareterm common", k=5,
                     scorer="auto").collect()
        assert SI.last_scan_info()["auto_scorer"] == "taat"
        # conjunctive mode bypasses auto (intersection needs TAAT)
        got = search_index(spark, big, "rareterm common", k=5,
                           scorer="auto", mode="and").collect()
        assert [r.doc_id for r in got] == ["77"]
    finally:
        S.AUTO_BMW_MIN_SHARD = old


def test_auto_scorer_mixed_batch_dispatches_per_query(spark, tmp_path,
                                                     monkeypatch):
    """r8 (VERDICT r7 #1): a MIXED batch no longer collapses to TAAT —
    selective queries run under the BMW closure and hot queries under
    TAAT in the SAME scatter (forced with a zero driver budget),
    results rank-identical to both explicit scorers per query."""
    from oboyu_spark.operators import searchidx as SI
    from oboyu_spark.operators.postings import build_index
    from oboyu_spark.operators.searchidx import search_index

    rows = [(i, "common words shared by every document here "
             + ("rareterm " if i == 77 else "filler pad ") * 3)
            for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    big = str(tmp_path / "big_mixed")
    build_index(docs, big, shard_size=300, shards_per_part=2,
                id_assign_partitions=4)

    queries = ["rareterm common",      # selective -> BMW subset
               "common filler",        # hot -> TAAT subset
               "rareterm filler"]      # selective -> BMW subset
    old = SI.AUTO_BMW_MIN_SHARD
    SI.AUTO_BMW_MIN_SHARD = 300
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
    try:
        got = search_index(spark, big, queries, k=5,
                           scorer="auto").collect()
        assert SI.last_scan_info()["auto_scorer"] == "mixed"
        assert SI.last_scan_info()["auto_bmw_queries"] == [0, 2]
        for ref_scorer in ("taat", "bmw"):
            ref = search_index(spark, big, queries, k=5,
                               scorer=ref_scorer).collect()
            assert sorted((r.query_id, r.doc_id, round(r.score, 9))
                          for r in got) == \
                sorted((r.query_id, r.doc_id, round(r.score, 9))
                       for r in ref), ref_scorer
        # every query produced rows (the dispatch lost nobody)
        assert {r.query_id for r in got} == {0, 1, 2}
    finally:
        SI.AUTO_BMW_MIN_SHARD = old
