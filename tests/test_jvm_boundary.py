"""Driver↔JVM boundary of the index paths: integer IN filters are built
without ``Column.isin`` (one py4j call per literal), the postings,
vocabulary and docmap reads declare schemas equal to the inferred ones,
and result frames keep (query_id int, doc_id string, score double) on
every gather path and key type."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql.classic.column import Column
from pyspark.sql.types import StructType

from oboyu_spark.operators import searchidx as SI
from oboyu_spark.operators.postings import (
    POSTINGS_READ_SCHEMA,
    VOCABULARY_SCHEMA,
    append_docs,
    build_index,
    compact_index,
    delete_docs,
    docmap_read_schema,
    finalize_index,
    load_meta,
)
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs

QUERIES = [
    "spark index search",
    "検索 索引",
    "分散 shuffle partition engine",
    "missing_term_xyz",
    "spark spark query",
    "zselzero index",
    "zselone",
]
RESULT_DDL = "struct<query_id:int,doc_id:string,score:double>"
WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


def _docs(spark, key_type: str, n: int = 60, start: int = 0):
    rows = [((str(i) if key_type == "string" else i),
             " ".join(WORDS[(i * j) % 6] for j in range(1, 2 + i % 5)))
            for i in range(start, start + n)]
    return spark.createDataFrame(rows, f"doc_id {key_type}, text string")


def _tomb_corpus(spark):
    """Transcript docs plus two rare-term docs that make the last two
    QUERIES selective."""
    tr = synthesize_transcripts(spark, n_convs=60, max_turns=8, seed=7)
    return turns_as_docs(tr).select("doc_id", "text").unionByName(
        spark.createDataFrame([("rare0", "zselzero spark index"),
                               ("rare1", "zselone search")],
                              "doc_id string, text string"))


@pytest.fixture(scope="module")
def tomb_index(spark, tmp_path_factory):
    """Multi-part index of _tomb_corpus with tombstoned docs."""
    corpus = _tomb_corpus(spark)
    d = str(tmp_path_factory.mktemp("tomb_idx"))
    meta = build_index(corpus, d, shard_size=60, shards_per_part=2,
                       salt_chunk=40)
    assert meta["n_parts"] >= 3
    keys = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    delete_docs(spark, d, keys[::17])
    return d


def _refuse_isin(monkeypatch):
    def isin(self, *cols):
        raise AssertionError("Column.isin called on an index path")

    monkeypatch.setattr(Column, "isin", isin)


def _stats(meta: dict) -> tuple:
    return tuple(meta[k] for k in ("n_docs", "total_terms", "avgdl",
                                   "n_postings", "n_vocab_terms"))


def test_index_paths_never_call_isin(spark, tomb_index, tmp_path,
                                     monkeypatch):
    """With Column.isin raising, the one-shot batch search, the warm
    reader, finalize_index, compact_index, delete_docs and sync_docs
    (with and without compaction) all run and return exactly what they
    return with it."""
    from oboyu_spark.operators.postings import sync_docs

    # route the selective queries of the batch to BMW: a mixed batch
    monkeypatch.setattr(SI, "AUTO_BMW_MIN_SHARD", 0)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    shutil.copytree(tomb_index, a)
    shutil.copytree(tomb_index, b)
    some = sorted(tuple(r) for r in _tomb_corpus(spark).collect())[1::17]
    feed = [(k, t + " revised" if i % 5 == 0 else t)
            for i, (k, t) in enumerate(some) if i % 7 != 3]
    feed += [(f"new{i}", "spark index search fresh") for i in range(3)]
    feed_df = spark.createDataFrame(feed, "doc_id string, text string")

    def run(d):
        batch = [tuple(r) for r in
                 SI.search_index(spark, d, QUERIES, k=5, scorer="auto")
                 .collect()]
        # the auto dispatch runs in the scatter: force it with budget 0
        with monkeypatch.context() as m:
            m.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
            scattered = [tuple(r) for r in
                         SI.search_index(spark, d, QUERIES, k=5,
                                         scorer="auto").collect()]
        scorer = SI.last_scan_info()["auto_scorer"]
        assert scattered == batch
        reader = SI.IndexReader(spark, d)
        try:
            served = reader.search_rows(QUERIES, k=5, scorer="auto")
        finally:
            reader.close()
        fin = _stats(finalize_index(spark, d))
        comp = _stats(compact_index(spark, d))
        dele = _stats(delete_docs(spark, d, [k for k, _ in some[::9]]))
        syncs = [(o["new"], o["modified"], o["deleted"], _stats(o["meta"]))
                 for o in (sync_docs(feed_df, d, compact=c)
                           for c in (False, True))]
        after = [tuple(r) for r in
                 SI.search_index(spark, d, QUERIES, k=5).collect()]
        return batch, scorer, served, fin, comp, dele, syncs, after

    want = run(a)
    assert want[1] == "mixed" and want[0]
    assert all(want[6][0][:3]), "the first sync adds, modifies and deletes"
    _refuse_isin(monkeypatch)
    assert run(b) == want


def test_declared_read_schemas_match_inferred(spark, tmp_path):
    """POSTINGS_READ_SCHEMA, VOCABULARY_SCHEMA and the docmap's
    docmap_read_schema(<the recorded key type>) equal what the parquet
    reader infers, after a build, an append and a compaction, for
    string and bigint keys; an append of the other key type is refused
    before it writes anything. Change them only together with
    CODEC_VERSION."""
    for key_type, other, victims in (("string", "bigint", ["3", "10", "65"]),
                                     ("bigint", "string", [3, 10, 65])):
        d = str(tmp_path / key_type)

        def check():
            ddls = {"postings": POSTINGS_READ_SCHEMA,
                    "vocabulary": VOCABULARY_SCHEMA,
                    "docmap": docmap_read_schema(load_meta(d)["doc_id_type"])}
            for name, ddl in ddls.items():
                inferred = spark.read.parquet(f"{d}/{name}").schema
                assert StructType.fromDDL(ddl) == inferred, (key_type, name)
                declared = spark.read.schema(ddl).parquet(f"{d}/{name}").schema
                assert declared == inferred, (key_type, name)

        build_index(_docs(spark, key_type), d, shard_size=8, shards_per_part=2)
        assert load_meta(d)["doc_id_type"] == key_type
        check()
        with open(f"{d}/staged.json") as fh:
            staged = fh.read()
        with pytest.raises(ValueError,
                           match=f"holds {key_type} doc ids.*{other} keys"):
            append_docs(_docs(spark, other, n=5, start=100), d)
        with open(f"{d}/staged.json") as fh:
            assert fh.read() == staged
        append_docs(_docs(spark, key_type, n=20, start=60), d)
        check()
        delete_docs(spark, d, victims)
        compact_index(spark, d)
        check()


@pytest.mark.parametrize("key_type", ["string", "bigint"])
def test_result_frame_schema_every_path(spark, tmp_path, monkeypatch,
                                        key_type):
    """search_index returns (query_id int, doc_id string, score double)
    on the empty path, the small-search path (driver scoring + driver
    cut) and the cluster path (scatter + Spark rank window, budget 0),
    for string and bigint keys; bigint keys come back as their decimal
    strings, ranked the same on both paths."""
    d = str(tmp_path / key_type)
    build_index(_docs(spark, key_type), d, shard_size=8, shards_per_part=2)
    qs = ["alpha beta", "gamma", "zzz nomatch", "delta eps zeta"]

    def frames():
        got = SI.search_index(spark, d, qs, k=4, scorer="auto")
        empty = SI.search_index(spark, d, "zzz", k=4)
        assert got.schema.simpleString() == RESULT_DDL
        assert empty.schema.simpleString() == RESULT_DDL
        assert empty.collect() == []
        return [tuple(r) for r in got.collect()]

    driver = frames()
    monkeypatch.setattr(SI, "DRIVER_CUT_MAX_ROWS", 0)
    cluster = frames()
    assert cluster == driver and len(driver) == 12
    assert {d_ for _, d_, _ in driver} <= {str(i) for i in range(60)}
    if key_type == "bigint":
        # ties rank by the numeric key, as before the Arrow frames
        assert [d_ for q, d_, _ in driver if q == 1] == ["1", "2", "4", "7"]
