"""Transcripts source: determinism, per-turn invariants and BM25 rank
identity over the synthesized corpus."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oboyu_spark.operators import bm25 as B
from oboyu_spark.oracle.pybm25 import PyBM25
from oboyu_spark.sources.transcripts import (
    synthesize_transcripts,
    transcripts_from_documents,
    turns_as_docs,
)


@pytest.fixture(scope="module")
def transcripts(spark):
    return synthesize_transcripts(spark, n_convs=60, max_turns=12, seed=42)


def test_schema_and_shape(transcripts):
    assert [f.name for f in transcripts.schema.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    assert dict(transcripts.dtypes)["turn_idx"] == "int"
    assert dict(transcripts.dtypes)["ts"] == "timestamp"
    n = transcripts.count()
    assert n > 100
    # keys unique
    assert transcripts.select("conv_id", "turn_idx").distinct().count() == n


def test_determinism(spark, transcripts):
    again = synthesize_transcripts(spark, n_convs=60, max_turns=12, seed=42)
    a = sorted(map(tuple, transcripts.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    # different seed differs
    other = synthesize_transcripts(spark, n_convs=60, max_turns=12, seed=7)
    assert sorted(map(tuple, other.collect())) != a


def test_corpus_exercises_edge_paths(transcripts):
    rows = transcripts.collect()
    texts = [r["text"] for r in rows]
    assert any(t == "" for t in texts), "needs empty turns"
    assert any(len(t) > 1024 for t in texts), "needs >1024-char turns"
    assert any("\r\n" in t for t in texts), "needs CRLF dirt"
    assert any("検索" in t or "索引" in t for t in texts), "needs JP text"


def test_per_turn_text_equality_invariant(transcripts):
    """north-rule invariant: turns_as_docs must not alter text; each turn
    keyed by conv_id#turn_idx under stable ordering."""
    docs = turns_as_docs(transcripts)
    joined = (
        transcripts.select(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
                "doc_id"
            ),
            F.col("text").alias("orig"),
        )
        .join(docs.select("doc_id", "text"), "doc_id", "full")
    )
    bad = joined.filter(
        F.col("orig").isNull()
        | F.col("text").isNull()
        | (F.col("orig") != F.col("text"))
    ).count()
    assert bad == 0
    # stable (conv_id, turn_idx) ordering reproduces identical text seq
    seq1 = [r["text"] for r in transcripts.orderBy("conv_id", "turn_idx").collect()]
    seq2 = [r["text"] for r in transcripts.orderBy("conv_id", "turn_idx").collect()]
    assert seq1 == seq2


def test_bm25_over_transcripts_matches_oracle(spark, transcripts):
    docs = turns_as_docs(transcripts)
    corpus = [(r["doc_id"], r["text"]) for r in docs.collect()]
    oracle = PyBM25()
    oracle.index(corpus)
    for q in ["spark index", "検索 索引", "分散 shuffle partition", "圧縮"]:
        res = B.bm25_search(docs, q, k=15).collect()
        exp = oracle.search(q, k=15)
        assert [r["doc_id"] for r in res] == [d for d, _ in exp], q
        for r, (_, s) in zip(res, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9), q


def test_transcripts_from_documents_shape(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tr = transcripts_from_documents(docs)
    assert tr.count() == docs.count()
    td = turns_as_docs(tr)
    assert td.select("doc_id").distinct().count() == docs.count()


def test_sessionize_turns_gap_semantics(spark):
    from oboyu_spark.operators.sessionize import session_stats, sessionize_turns

    rows = [
        ("c1", 0, "2025-01-01 10:00:00"),
        ("c1", 1, "2025-01-01 10:10:00"),   # 10 min → same session
        ("c1", 2, "2025-01-01 11:30:00"),   # 80 min → new session
        ("c1", 3, "2025-01-01 11:40:00"),
        ("c2", 0, "2025-01-01 09:00:00"),   # other conv independent
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s = sessionize_turns(df, gap_minutes=30)
    got = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in s.collect()}
    assert got[("c1", 0)] == got[("c1", 1)] == "c1#0"
    assert got[("c1", 2)] == got[("c1", 3)] == "c1#1"
    assert got[("c2", 0)] == "c2#0"
    stats = {(r["conv_id"], r["session_idx"]): r["n_turns"]
             for r in session_stats(s).collect()}
    assert stats[("c1", 0)] == 2 and stats[("c1", 1)] == 2
