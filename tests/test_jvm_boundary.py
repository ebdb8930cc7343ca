"""Driver↔JVM boundary of the index paths: key-set filters are built
without ``Column.isin`` (one py4j call per literal), on both sides of
``postings.KEY_IN_LIST_MAX`` (an IN list below it, a join against an
Arrow key frame above it), the postings, vocabulary and docmap reads
declare schemas equal to the inferred ones, and result frames keep
(query_id int, doc_id string, score double) on every gather path and
key type."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql.classic.column import Column
from pyspark.sql.types import StructType

from oboyu_spark.operators import postings
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


def _key_sides(monkeypatch, join: bool) -> list:
    """Put the key-set filters on one side of the cutover: every set
    joins a key frame (``join``) or none does. Returns the list of key
    frames built, to show which side ran."""
    frames = []
    build = postings._key_frame

    def key_frame(*args):
        frames.append(args[1])
        return build(*args)

    monkeypatch.setattr(postings, "_key_frame", key_frame)
    if join:
        monkeypatch.setattr(postings, "KEY_IN_LIST_MAX", 0)
    return frames


def _stats(meta: dict) -> tuple:
    return tuple(meta[k] for k in ("n_docs", "total_terms", "avgdl",
                                   "n_postings", "n_vocab_terms"))


def test_index_paths_never_call_isin(spark, tomb_index, tmp_path,
                                     monkeypatch):
    """With Column.isin raising, the one-shot batch search, the warm
    reader, finalize_index, compact_index, delete_docs and sync_docs
    (with and without compaction) all run and return exactly what they
    return with it, with their key sets written as IN lists and, with
    the cutover at 0, joined as key frames."""
    from oboyu_spark.operators.postings import sync_docs

    # route the selective queries of the batch to BMW: a mixed batch
    monkeypatch.setattr(SI, "AUTO_BMW_MIN_SHARD", 0)
    a, b, c = (str(tmp_path / n) for n in "abc")
    for d in (a, b, c):
        shutil.copytree(tomb_index, d)
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
    frames = _key_sides(monkeypatch, join=False)
    assert run(b) == want
    assert frames == []
    frames = _key_sides(monkeypatch, join=True)
    assert run(c) == want
    assert frames, "no key set was joined"


@pytest.mark.parametrize("join", [False, True], ids=["in_list", "join"])
def test_string_key_sets_with_escapes(spark, tmp_path, monkeypatch, join):
    """Keys holding a quote, a backslash, a newline and non-ASCII text
    filter exactly, as IN-list literals and as key-frame rows, with
    Column.isin raising: delete_docs tombstones exactly the named docs,
    and a sync re-adds a deleted key, restages an edited one and
    deletes a missing one, whose search rows name the original keys."""
    _refuse_isin(monkeypatch)
    frames = _key_sides(monkeypatch, join)
    odd = ["it's", "back\\slash", "new\nline", "検索キー", "plain"]
    rows = [(k, f"alpha {w}") for k, w in zip(odd, WORDS)]
    rows += [(f"k{i}", "beta gamma") for i in range(20)]
    d = str(tmp_path / "idx")
    build_index(spark.createDataFrame(rows, "doc_id string, text string"),
                d, shard_size=8, shards_per_part=2)

    def alpha() -> list:
        return sorted(r["doc_id"] for r in
                      SI.search_index(spark, d, "alpha", k=10).collect())

    delete_docs(spark, d, ["it's", "new\nline"])
    assert alpha() == sorted(["back\\slash", "検索キー", "plain"])
    feed = [(k, t + " delta" if k == "検索キー" else t) for k, t in rows
            if k not in ("back\\slash", "new\nline")]
    from oboyu_spark.operators.postings import sync_docs

    out = sync_docs(spark.createDataFrame(feed, "doc_id string, text string"),
                    d)
    assert (out["new"], out["modified"], out["deleted"]) == (1, 1, 1)
    assert alpha() == sorted(["it's", "検索キー", "plain"])
    assert [r["doc_id"] for r in
            SI.search_index(spark, d, "delta", k=10).collect()] == ["検索キー"]
    assert bool(frames) == join


def test_date_keys_join_a_key_frame(spark, tmp_path, monkeypatch):
    """A key type that is neither integer nor string (date) has no IN
    literal form: below the cutover too, delete_docs and sync_docs
    filter it by a key-frame join, with Column.isin raising."""
    import datetime as dt

    from oboyu_spark.operators.postings import sync_docs

    _refuse_isin(monkeypatch)
    frames = _key_sides(monkeypatch, join=False)
    day = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(12)]
    rows = [(k, f"alpha w{i % 3}") for i, k in enumerate(day)]
    d = str(tmp_path / "idx")
    build_index(spark.createDataFrame(rows, "doc_id date, text string"), d,
                shard_size=8, shards_per_part=2)

    def hits(q: str) -> list:
        return sorted(r["doc_id"] for r in
                      SI.search_index(spark, d, q, k=20).collect())

    delete_docs(spark, d, [day[0], day[5]])
    assert hits("alpha") == [str(k) for i, k in enumerate(day)
                             if i not in (0, 5)]
    feed = [(k, t + " zz" if i == 3 else t) for i, (k, t) in enumerate(rows)
            if i != 7]
    out = sync_docs(spark.createDataFrame(feed, "doc_id date, text string"),
                    d)
    assert (out["new"], out["modified"], out["deleted"]) == (2, 1, 1)
    assert hits("zz") == [str(day[3])]
    assert frames


@pytest.mark.parametrize("join", [False, True], ids=["in_list", "join"])
def test_streaming_and_ivf_paths_never_call_isin(spark, tmp_path,
                                                 monkeypatch, join):
    """With Column.isin raising, on both sides of the cutover: the
    streaming replay guard re-adds a tombstoned key and skips an
    indexed one; the near-dedup handler drops an in-batch near-dup and
    tombstones an indexed doc when its lower-id twin arrives; and
    ivf_search, IvfReader.search and ivf_compact mask deleted
    vectors."""
    import numpy as np

    from oboyu_spark.operators import similarity as S
    from oboyu_spark.operators.postings import load_tombstones
    from oboyu_spark.streaming.dedupstream import _near_dedup_handler
    from oboyu_spark.streaming.ingest import handle_batch_factory

    _refuse_isin(monkeypatch)
    frames = _key_sides(monkeypatch, join)

    idx = str(tmp_path / "idx")
    build_index(_docs(spark, "string", n=30), idx, shard_size=8,
                shards_per_part=2)
    n0 = load_meta(idx)["n_docs"]
    delete_docs(spark, idx, ["3"])
    handle_batch_factory(idx)(_docs(spark, "string", n=2, start=3), 7)
    assert load_meta(idx)["n_docs"] == n0
    keys = [r["doc_id"] for r in spark.read.parquet(f"{idx}/docmap")
            .select("doc_id").collect()]
    assert (keys.count("3"), keys.count("4")) == (2, 1)

    near, mh = str(tmp_path / "near"), str(tmp_path / "mh")
    handler = _near_dedup_handler(handle_batch_factory(near), near, mh,
                                  threshold=0.4, num_perm=16, bands=8)
    fox = ("the quick brown fox jumps over the lazy dog and then runs "
           "far away into the deep dark forest tonight ")
    other = ("completely different content discussing parquet row groups "
             "and shuffle partitions at length here today ")
    for i, batch in enumerate([
            [("b10", fox + "alpha"), ("b11", fox + "alpha beta"),
             ("b20", other)],
            [("b05", fox + "alpha gamma"),
             ("b30", "streaming watermark eviction keeps bounded state")]]):
        handler(spark.createDataFrame(batch, "doc_id string, text string"),
                i)
    tomb = load_tombstones(near)
    assert {r["doc_id"] for r in spark.read.parquet(f"{near}/docmap")
            .collect() if r["doc_int"] not in tomb} == {"b05", "b20", "b30"}

    rng = np.random.default_rng(7)
    vec = rng.standard_normal((120, 8))
    vec[11] = vec[10] + 0.01 * rng.standard_normal(8)
    ivf = str(tmp_path / "ivf")
    S.ivf_build(spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vec)],
        "vec_id long, embedding array<float>"), ivf, n_lists=4, sample=120,
        iters=8, seed=5)
    q = [float(x) for x in vec[10]]
    S.ivf_delete(ivf, [10, 21])
    got = [tuple(r) for r in S.ivf_search(spark, ivf, q, k=5,
                                          nprobe=4).collect()]
    reader = S.IvfReader(spark, ivf)
    try:
        served = [tuple(r) for r in reader.search(q, k=5, nprobe=4).collect()]
    finally:
        reader.close()
    assert served == got and got[0][0] == 11
    assert not {10, 21} & {r[0] for r in got}
    S.ivf_compact(spark, ivf)
    assert [tuple(r) for r in S.ivf_search(spark, ivf, q, k=5,
                                           nprobe=4).collect()] == got
    assert bool(frames) == join


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


def test_declared_staged_schema_matches_inferred(spark, tmp_path):
    """staged_read_schema(<staged.json>) equals what the parquet reader
    infers for every staged slice, after a build, an append and a
    compaction (which rewrites the slices holding deleted docs), for
    string keys, bigint keys and pretokenized array<string> text; a
    generation-root read adds pid int. staged.json records the text
    type, and an append of the other text type is refused before it
    writes anything. Change the schema only together with
    CODEC_VERSION."""
    import json
    import os

    from pyspark.sql import functions as F

    from oboyu_spark.operators.postings import staged_read_schema

    cases = (("string", "string", ["3", "10", "65"]),
             ("bigint", "string", [3, 10, 65]),
             ("string", "array<string>", ["3", "10", "65"]))
    for key_type, text_type, victims in cases:
        d = str(tmp_path / f"{key_type}_{text_type[:5]}")

        def docs(n=60, start=0, text=text_type):
            df = _docs(spark, key_type, n=n, start=start)
            if text == "string":
                return df
            return df.withColumn("text", F.split("text", " "))

        def check():
            with open(f"{d}/staged.json") as fh:
                smeta = json.load(fh)
            assert (smeta["doc_id_type"], smeta["text_type"]) == (key_type,
                                                                 text_type)
            ddl = staged_read_schema(smeta)
            for g in smeta["gens"]:
                gdir = f"{d}/staged/gen={g['gen']}"
                assert spark.read.parquet(gdir).schema == \
                    StructType.fromDDL(ddl + ", pid int"), (d, g["gen"])
                for pid in os.listdir(gdir):
                    if pid.startswith("pid="):
                        inferred = spark.read.parquet(f"{gdir}/{pid}").schema
                        assert inferred == StructType.fromDDL(ddl), (d, pid)

        build_index(docs(), d, shard_size=8, shards_per_part=2)
        check()
        other = "string" if text_type != "string" else "array<string>"
        with open(f"{d}/staged.json") as fh:
            staged = fh.read()
        with pytest.raises(ValueError,
                           match=f"holds {key_type} doc ids and {text_type}"
                                 f" text.*{other} text"):
            append_docs(docs(n=5, start=100, text=other), d)
        with open(f"{d}/staged.json") as fh:
            assert fh.read() == staged
        append_docs(docs(n=20, start=60), d)
        check()
        delete_docs(spark, d, victims)
        compact_index(spark, d)
        check()
        assert load_meta(d)["n_docs"] == 80 - len(victims)


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
