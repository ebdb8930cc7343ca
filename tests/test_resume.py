"""Checkpoint-resume, incremental append, delete + compaction.

north rule: "resumable from checkpoint with per-partition lineage +
metrics" — a killed build re-run must skip completed partitions and
converge to the same index as a fresh full build (FIXTURES.md F7)."""

from __future__ import annotations

import gc
import json
import os
import re
import time

import pytest

from oboyu_spark import MIN_TOKEN_LENGTH_DEFAULT
from oboyu_spark.operators.postings import (
    append_docs,
    build_index,
    compact_index,
    delete_docs,
    load_meta,
)
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.oracle.pybm25 import PyBM25
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs

QUERIES = ["spark index search", "検索 分散", "posting 圧縮 merge"]
KW = dict(shard_size=50, salt_chunk=60, shards_per_part=2,
          id_assign_partitions=4)


def _corpus(spark, n_convs=60, seed=11):
    tr = synthesize_transcripts(spark, n_convs=n_convs, max_turns=8, seed=seed)
    return turns_as_docs(tr).select("doc_id", "text")


def _results(spark, d, k=10, scorer="taat"):
    rows = search_index(spark, d, QUERIES, k=k, scorer=scorer).collect()
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["doc_id"], round(r["score"], 9)))
    return out


def _run_in_group(spark, group: str, fn):
    """Run ``fn`` with ``group`` as the caller's job group. Returns
    (fn's result, ids of ALL jobs submitted meanwhile, ids of the
    group's jobs). The window is bounded by marker jobs submitted
    outside the group just before and after."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(name: str) -> list:
        sc.setJobGroup(name, name)
        try:
            spark.range(1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed asynchronously: once it knows the
        # marker it knows every job submitted before it
        for _ in range(200):
            if tracker.getJobIdsForGroup(name):
                break
            time.sleep(0.05)
        return list(tracker.getJobIdsForGroup(name))

    lo = max(marker(f"{group}-before"))
    # keep cyclic GC out of the window: py4j finalizers it runs mid-call
    # can route a call over another gateway connection, whose JVM thread
    # does not carry the job group
    gc.collect()
    gc.disable()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        gc.enable()
    hi = min(marker(f"{group}-after"))
    return out, set(range(lo + 1, hi)), set(tracker.getJobIdsForGroup(group))


def _vocab_rows(vocab) -> list[tuple]:
    """Sorted (th1, th2, document_frequency, bparts) rows."""
    return sorted(
        (r["th1"], r["th2"], r["document_frequency"], r["bparts"])
        for r in vocab.collect()
    )


def _manifests(d: str) -> list[dict]:
    rows = []
    for fn in sorted(os.listdir(f"{d}/manifest")):
        with open(f"{d}/manifest/{fn}") as fh:
            rows.append(json.load(fh))
    return rows


def test_resume_converges_to_fresh_build(spark, tmp_path,
                                         crash_after_manifests):
    docs = _corpus(spark)
    fresh_dir, resume_dir = str(tmp_path / "fresh"), str(tmp_path / "resume")

    meta_fresh = build_index(docs, fresh_dir, **KW)
    assert meta_fresh["n_parts"] > 2, "need multiple parts for this test"

    # crash after 1 part, then resume
    with crash_after_manifests(1), \
            pytest.raises(RuntimeError, match="injected failure"):
        build_index(docs, resume_dir, **KW)
    done = [f for f in os.listdir(f"{resume_dir}/manifest") if f.endswith(".json")]
    assert len(done) == 1
    # index is not finalized yet
    assert not os.path.exists(f"{resume_dir}/stats/meta.json")

    meta_resumed = build_index(docs, resume_dir, **KW)
    for key in ["n_docs", "total_terms", "n_postings", "n_vocab_terms",
                "compressed_payload_bytes", "avgdl"]:
        assert meta_resumed[key] == meta_fresh[key], key
    assert _results(spark, resume_dir) == _results(spark, fresh_dir)


def test_resume_refuses_mismatched_geometry(spark, tmp_path,
                                            crash_after_manifests):
    """A resume builds with the FROZEN staged settings. A caller
    shard_size / shards_per_part that disagrees with staged.json used to
    be recorded in meta.json over parts staged with the old geometry —
    hydration then pruned the docmap to the wrong bparts and searches
    silently lost hits; other tokenizer or salting settings would mix
    differently built parts into one index. It must raise, naming both
    values, before any part is built. A shard_size past the int32 range
    of the postings' shard-local ids is refused too."""
    docs = _corpus(spark)
    d = str(tmp_path / "idx")
    with crash_after_manifests(1), \
            pytest.raises(RuntimeError, match="injected failure"):
        build_index(docs, d, **KW)
    staged = {"min_token_length": MIN_TOKEN_LENGTH_DEFAULT,
              "stop_words": None, **KW}
    for key, bad in (("shards_per_part", 4), ("shard_size", 100),
                     ("salt_chunk", 61), ("min_token_length", 3),
                     ("stop_words", ["the"])):
        want = re.escape(f"{key}={staged[key]}") + ".*" + re.escape(
            f"{key}={bad}")
        with pytest.raises(ValueError, match=want):
            build_index(docs, d, **{**KW, key: bad})
    # shard-local doc ids are int32 gaps: refused before anything else
    with pytest.raises(ValueError, match=f"shard_size={2**31} must be"):
        build_index(docs, d, **{**KW, "shard_size": 2**31})
    done = [f for f in os.listdir(f"{d}/manifest") if f.endswith(".json")]
    assert len(done) == 1
    assert not os.path.exists(f"{d}/stats/meta.json")


def test_manifest_lineage_and_metrics(spark, tmp_path):
    docs = _corpus(spark)
    d = str(tmp_path / "idx")
    meta = build_index(docs, d, **KW)
    rows = _manifests(d)
    assert len(rows) == meta["n_parts"]
    assert all(r["status"] == "done" for r in rows)
    assert sum(r["n_docs"] for r in rows) == meta["n_docs"]
    assert sum(r["n_postings"] for r in rows) == meta["n_postings"]
    assert all(r["tokens_per_sec"] is not None for r in rows)


def test_manifest_counts_match_written_files(spark, tmp_path):
    """r8: the per-part manifest counters ride the postings write as an
    Observation instead of a separate read-back job — pin that every
    claimed count still equals what is actually ON DISK for its part
    (the finalize integrity gate checks only the postings counts), and
    that compressed_payload_bytes is the part's postings directory
    size."""
    from pyspark.sql import functions as F

    docs = _corpus(spark)
    d = str(tmp_path / "idx")
    meta = build_index(docs, d, **KW)
    assert meta["n_parts"] > 1
    for row in _manifests(d):
        pdir = f"{d}/postings/bpart={row['bpart']}"
        disk = (
            spark.read.parquet(pdir)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum("n"), F.lit(0)).alias("postings"),
            )
            .collect()[0]
        )
        assert row["posting_rows"] == int(disk["rows"])
        assert row["n_postings"] == int(disk["postings"])
        assert row["compressed_payload_bytes"] == sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(pdir) for f in fs) > 0
        ndocs_disk = (
            spark.read.parquet(f"{d}/docmap/bpart={row['bpart']}").count()
        )
        assert row["n_docs"] == ndocs_disk


def test_finalize_gate_names_the_damaged_part(spark, tmp_path):
    """The finalize integrity gate compares each part's postings on
    disk with its own manifest: a redistribution that keeps the global
    sum (one part's claim +3, another's −3) must fail and name both
    parts with both numbers."""
    from oboyu_spark.operators.postings import finalize_index

    d = str(tmp_path / "idx")
    meta = build_index(_corpus(spark), d, **KW)
    assert meta["n_parts"] > 1
    rows = _manifests(d)
    claims = {r["bpart"]: r["n_postings"] for r in rows[:2]}
    for r, delta in zip(rows[:2], (3, -3)):
        r["n_postings"] += delta
        with open(f"{d}/manifest/part-{r['bpart']:05d}.json", "w") as fh:
            json.dump(r, fh)
    with pytest.raises(RuntimeError, match="integrity violation") as err:
        finalize_index(spark, d)
    for (p, n), delta in zip(claims.items(), (3, -3)):
        assert (f"bpart {p}: postings dir holds {n}, manifest claims "
                f"{n + delta}") in str(err.value)


def test_append_matches_full_rebuild_oracle(spark, tmp_path):
    from pyspark.sql import functions as F

    base = _corpus(spark, n_convs=40, seed=11)
    # appended keys must not collide with existing ones (API contract)
    extra = _corpus(spark, n_convs=20, seed=99).select(
        F.concat(F.lit("x"), "doc_id").alias("doc_id"), "text"
    )
    d = str(tmp_path / "idx")
    build_index(base, d, **KW)
    meta2 = append_docs(extra, d)
    assert meta2["n_docs"] == base.count() + extra.count()

    both = [(r["doc_id"], r["text"]) for r in base.collect()] + [
        (r["doc_id"], r["text"]) for r in extra.collect()
    ]
    oracle = PyBM25()
    oracle.index(both)
    got = _results(spark, d, k=12)
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=12)
        assert [x[0] for x in got.get(qid, [])] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got.get(qid, []), exp):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-8)


def test_update_docs_via_delete_append(spark, tmp_path):
    """FIXTURES.md F7: 'modified' turns = delete + append — after
    compaction the index equals a fresh build over the updated corpus."""
    from pyspark.sql import functions as F

    docs = _corpus(spark, n_convs=30)
    d = str(tmp_path / "idx")
    build_index(docs, d, **KW)

    victims = [r["doc_id"] for r in docs.limit(5).collect()]
    updated = docs.filter(F.col("doc_id").isin(victims)).select(
        "doc_id", F.concat(F.col("text"), F.lit(" updated revision text")).alias("text")
    )
    delete_docs(spark, d, victims)
    compact_index(spark, d)
    append_docs(updated, d)

    final_corpus = [
        (r["doc_id"],
         r["text"] + " updated revision text" if r["doc_id"] in set(victims)
         else r["text"])
        for r in docs.collect()
    ]
    oracle = PyBM25()
    oracle.index(final_corpus)
    got = _results(spark, d, k=10)
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=10)
        assert [x[0] for x in got.get(qid, [])] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got.get(qid, []), exp):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-8)


def test_delete_then_compact(spark, tmp_path):
    docs = _corpus(spark, n_convs=40)
    d = str(tmp_path / "idx")
    build_index(docs, d, **KW)
    before = _results(spark, d, k=20)
    victims = sorted({x[0] for res in before.values() for x in res[:3]})[:4]

    delete_docs(spark, d, victims)
    after = _results(spark, d, k=20)
    surviving_pre = {
        qid: [x for x in res if x[0] not in victims] for qid, res in before.items()
    }
    for qid in after:
        got_docs = [x[0] for x in after[qid]]
        assert not set(got_docs) & set(victims), "deleted docs must vanish"
        # surviving docs keep pre-delete scores and order (stats frozen);
        # docs beyond the old top-20 may now surface — prefix must match
        exp = surviving_pre[qid]
        assert after[qid][: len(exp)] == exp

    # both scorers respect tombstones
    assert _results(spark, d, scorer="bmw", k=20) == after

    # compaction: exact oracle over the surviving corpus
    compact_index(spark, d)
    remaining = [
        (r["doc_id"], r["text"])
        for r in docs.collect()
        if r["doc_id"] not in set(victims)
    ]
    oracle = PyBM25()
    oracle.index(remaining)
    meta = load_meta(d)
    assert meta["n_docs"] == len(remaining)
    got = _results(spark, d, k=12)
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=12)
        assert [x[0] for x in got.get(qid, [])] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got.get(qid, []), exp):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-8)

    # the vocabulary is re-aggregated from the rebuilt postings: its
    # terms and dfs are a fresh build's over the survivors, and each
    # term's part list names the parts holding its surviving docs (by
    # the compacted index's doc ids — survivors keep theirs, a fresh
    # build renumbers them)
    from pyspark.sql import functions as F

    from oboyu_spark.operators import termindex as TI
    from oboyu_spark.operators.postings import term_hash_cols

    surv = spark.createDataFrame(remaining, "doc_id string, text string")
    fresh = str(tmp_path / "fresh")
    build_index(surv, fresh, **KW)
    part_docs = KW["shard_size"] * KW["shards_per_part"]
    doc_part = spark.read.parquet(f"{d}/docmap").select(
        "doc_id", (F.col("doc_int") / part_docs).cast("int").alias("bpart"))
    term_parts = (
        TI.term_frequencies(surv).join(doc_part, "doc_id")
        .select(*term_hash_cols(F.col("term")), "bpart")
        .groupBy("th1", "th2")
        .agg(F.sort_array(F.collect_set("bpart")).alias("bparts"))
    )
    exp = (
        spark.read.parquet(f"{fresh}/vocabulary")
        .select("th1", "th2", "document_frequency")
        .join(term_parts, ["th1", "th2"], "full_outer")
    )
    assert _vocab_rows(spark.read.parquet(f"{d}/vocabulary")) \
        == _vocab_rows(exp)


def test_compact_crash_windows_recover(spark, tmp_path, monkeypatch):
    """A crash ANYWHERE mid-compact must never resurface deleted docs
    or wedge the index: tombstones are cleared LAST (so every
    mid-compact crash leaves the delete mask in force), and a slice
    orphaned between the swap's rmtree and rename rolls FORWARD on the
    next compact (same class as the minhash/IVF _recover_swap
    windows, ADVICE r5 #2)."""
    import bisect
    import shutil

    from oboyu_spark.operators import postings as P

    docs = _corpus(spark, n_convs=40)
    d = str(tmp_path / "crash")
    build_index(docs, d, **KW)
    before = _results(spark, d, k=20)
    victims = sorted({x[0] for res in before.values() for x in res[:2]})[:3]
    delete_docs(spark, d, victims)
    masked = _results(spark, d, k=12)

    # expected end state: a clean compact on a byte-identical clone
    clone = str(tmp_path / "clone")
    shutil.copytree(d, clone)
    compact_index(spark, clone)
    expected = _results(spark, clone, k=12)

    # crash window 1: staged rewrite done, part rebuild blows up —
    # tombstones must still be in force afterwards
    real_build = P._build_one_part

    def boom(*a, **k):
        raise RuntimeError("injected compact crash")

    monkeypatch.setattr(P, "_build_one_part", boom)
    with pytest.raises(RuntimeError, match="injected compact crash"):
        compact_index(spark, d)
    monkeypatch.setattr(P, "_build_one_part", real_build)
    assert os.path.exists(f"{d}/tombstones/doc_ints.json"), \
        "tombstones must survive a mid-compact crash"
    assert _results(spark, d, k=12) == masked, \
        "deleted docs must stay masked after a mid-compact crash"

    # crash window 2 on the SAME index: a staged slice orphaned
    # between rmtree(live) and rename(tmp, live) — manufacture the
    # state for one (gen, pid) holding a tombstoned doc
    with open(f"{d}/staged.json") as fh:
        smeta = json.load(fh)
    with open(f"{d}/tombstones/doc_ints.json") as fh:
        tomb = json.load(fh)
    g = smeta["gens"][0]
    offs = sorted((int(v), int(k)) for k, v in g["offsets"].items())
    starts = [v for v, _ in offs]
    dint = int(tomb[0])
    pid = offs[bisect.bisect_right(starts, dint) - 1][1]
    src = f"{d}/staged/gen=0/pid={pid}"
    tmp = f"{d}/staged_tmp/gen=0/pid={pid}"
    os.makedirs(os.path.dirname(tmp), exist_ok=True)
    os.rename(src, tmp)
    assert not os.path.exists(src)

    # re-running compact rolls the slice forward, rebuilds, finalizes,
    # and only then clears the tombstones; results match the clean run
    compact_index(spark, d)
    assert not os.path.exists(f"{d}/tombstones/doc_ints.json")
    assert not os.path.exists(f"{d}/staged_tmp")
    assert _results(spark, d, k=12) == expected
    meta = load_meta(d)
    assert meta["n_docs"] == docs.count() - len(victims)
    # idempotent once clean
    compact_index(spark, d)
    assert _results(spark, d, k=12) == expected


def test_append_tiebreak_on_original_key(spark, tmp_path):
    """Appended docs get HIGHER doc_ints even when their keys sort
    before existing ones; exact score-ties at the k boundary must still
    resolve by ORIGINAL doc_id asc (the engine-wide contract), not by
    doc_int age."""
    d = str(tmp_path / "idx")
    text = "zztie spark index engine"
    base = spark.createDataFrame(
        [(f"b{i}", text) for i in range(8)], "doc_id string, text string"
    )
    build_index(base, d, **KW)
    extra = spark.createDataFrame(
        [(f"a{i}", text) for i in range(4)], "doc_id string, text string"
    )
    append_docs(extra, d)
    for scorer in ("taat", "bmw"):
        rows = search_index(spark, d, "zztie", k=5, scorer=scorer).collect()
        got = [r["doc_id"] for r in rows]
        # all 12 docs tie exactly; doc_id asc wins: a0..a3 then b0
        assert got == ["a0", "a1", "a2", "a3", "b0"], (scorer, got)


def test_sync_docs_change_detection(spark, tmp_path, monkeypatch):
    """sync_docs = the reference change-detector in one call: hash-diff
    against the docmap fp column → new/modified/deleted classified,
    tombstone + append + compact in ONE mutation step (one part loop,
    one finalize) — final scores equal a fresh build over the updated
    corpus (so a modified doc's score CHANGES and N stays exact)."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators import postings as P
    from oboyu_spark.operators.postings import sync_docs

    docs = _corpus(spark, n_convs=30)
    d = str(tmp_path / "idx")
    build_index(docs, d, **KW)

    rows = docs.collect()
    mod_keys = {rows[0]["doc_id"], rows[1]["doc_id"]}
    del_keys = {rows[2]["doc_id"]}
    updated = [
        (r["doc_id"],
         r["text"] + " updated revision text" if r["doc_id"] in mod_keys
         else r["text"])
        for r in rows if r["doc_id"] not in del_keys
    ] + [("brand#new1", "completely new spark index document")]
    incoming = spark.createDataFrame(updated, "doc_id string, text string")

    calls = {"_build_parts": 0, "finalize_index": 0}
    for name in calls:
        def spy(*a, _name=name, _real=getattr(P, name), **kw):
            calls[_name] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(P, name, spy)
    out = sync_docs(incoming, d, compact=True)
    assert out["new"] == 1 and out["modified"] == 2 and out["deleted"] == 1
    assert calls == {"_build_parts": 1, "finalize_index": 1}
    assert out["meta"]["n_docs"] == len(updated)

    oracle = PyBM25()
    oracle.index(updated)
    got = _results(spark, d, k=10)
    for qid, q in enumerate(QUERIES):
        exp = oracle.search(q, k=10)
        assert [x[0] for x in got.get(qid, [])] == [x[0] for x in exp], q
        for (_, gs), (_, es) in zip(got.get(qid, []), exp):
            assert gs == pytest.approx(es, rel=1e-9, abs=1e-8)

    # idempotence: syncing the same corpus again is a no-op
    out2 = sync_docs(incoming, d)
    assert (out2["new"], out2["modified"], out2["deleted"]) == (0, 0, 0)
    assert out2["meta"]["n_docs"] == len(updated)
    assert calls == {"_build_parts": 1, "finalize_index": 1}


def test_stop_words_survive_append_sync_and_compact(spark, tmp_path):
    """The build settings are frozen in staged.json, so every rebuild
    path tokenizes like the build: after append_docs, delete_docs +
    compact_index and sync_docs the stop word still matches nothing,
    and avgdl equals a fresh build's over the same docs (append and
    compact used to rebuild parts without the stop list)."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.postings import sync_docs

    kw = {**KW, "stop_words": ["spark"]}
    docs = _corpus(spark, n_convs=30)
    d = str(tmp_path / "idx")
    build_index(docs, d, **kw)
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert sum("spark" in t.lower() for t in rows.values()) > 5

    def check(step: str) -> None:
        fresh = build_index(
            spark.createDataFrame(sorted(rows.items()),
                                  "doc_id string, text string"),
            str(tmp_path / f"fresh_{step}"), **kw)
        assert load_meta(d)["avgdl"] == fresh["avgdl"], step
        assert search_index(spark, d, "spark", k=5).count() == 0, step
        assert search_index(spark, d, "spark index", k=5).count() == 5, step

    extra = _corpus(spark, n_convs=10, seed=99).select(
        F.concat(F.lit("x"), "doc_id").alias("doc_id"), "text")
    append_docs(extra, d)
    rows.update((r["doc_id"], r["text"]) for r in extra.collect())
    check("append")

    victims = sorted(rows)[:3]
    delete_docs(spark, d, victims)
    compact_index(spark, d)
    for k in victims:
        del rows[k]
    check("compact")

    first = sorted(rows)[0]
    rows[first] += " spark index revision"
    del rows[sorted(rows)[1]]
    rows["brand#new1"] = "a new spark index document"
    sync_docs(spark.createDataFrame(sorted(rows.items()),
                                    "doc_id string, text string"), d)
    check("sync")


def test_part_jobs_stay_in_the_callers_job_group(spark, tmp_path):
    """Every job a multi-part build, an append and a compaction submit
    belongs to the caller's job group — the part pool, the docmap
    overlap and the finalize vocabulary thread inherit it — so
    cancelling that group stops them all."""
    from pyspark.sql import functions as F

    docs = _corpus(spark, n_convs=40)
    d = str(tmp_path / "idx")
    meta, window, group = _run_in_group(
        spark, "grp-build", lambda: build_index(docs, d, **KW))
    assert meta["n_parts"] > 2
    assert window and window == group

    extra = _corpus(spark, n_convs=10, seed=99).select(
        F.concat(F.lit("x"), "doc_id").alias("doc_id"), "text")
    _, window, group = _run_in_group(
        spark, "grp-append", lambda: append_docs(extra, d))
    assert window and window == group

    delete_docs(spark, d, [r["doc_id"] for r in docs.limit(3).collect()])
    _, window, group = _run_in_group(
        spark, "grp-compact", lambda: compact_index(spark, d))
    assert window and window == group


def test_part_shuffle_bytes_are_the_parts_own(spark, tmp_path):
    """Each part's manifest counts the shuffle bytes of its OWN jobs
    (found by the part's job tag), so under concurrent part builds
    the per-part figures sum to at most the build's total — the old
    app-wide before/after delta counted every overlapping part's
    stages in each part."""
    docs = _corpus(spark)
    d = str(tmp_path / "idx")
    meta, _, group = _run_in_group(
        spark, "grp-shuffle", lambda: build_index(docs, d, **KW))
    assert meta["n_parts"] > 2
    sc = spark.sparkContext
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = set()
    for j in group:
        stages.update(tracker.getJobInfo(j).stageIds)
    total = 0
    for s in stages:
        try:
            total += store.lastStageAttempt(s).shuffleWriteBytes()
        except Exception:  # skipped: no attempt recorded
            pass
    rows = _manifests(d)
    assert all(r["shuffle_write_bytes"] > 0 for r in rows), rows
    assert sum(r["shuffle_write_bytes"] for r in rows) <= total
    assert meta["shuffle_write_bytes"] == sum(
        r["shuffle_write_bytes"] for r in rows)


def test_stale_df_guard_raises_clear_error(spark, tmp_path):
    """A half-finalized index (N recomputed under stale df, e.g. manual
    finalize after heavy deletion without compaction) must fail with an
    explicit run-compact error, not a math domain error."""
    from oboyu_spark.operators.postings import delete_docs, finalize_index

    docs = spark.createDataFrame(
        [(f"d{i}", "zz common text") for i in range(4)],
        "doc_id string, text string",
    )
    d = str(tmp_path / "idx")
    build_index(docs, d, **KW)
    delete_docs(spark, d, ["d0", "d1", "d2"])
    finalize_index(spark, d)
    with pytest.raises(ValueError, match="compact_index"):
        search_index(spark, d, "zz", k=5).collect()
    # compaction restores a consistent, queryable index
    compact_index(spark, d)
    assert search_index(spark, d, "zz", k=5).count() == 1


def test_failing_part_build_fails_fast(spark, tmp_path, monkeypatch):
    """A part whose postings write fails while its overlapped docmap
    write is still running raises at once: the part cancels its own
    tagged jobs instead of waiting the docmap write out, writes no
    manifest, and leaves none of its jobs running."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    slow_started = threading.Event()
    part_tags: list = []
    real_parquet = DataFrameWriter.parquet
    sc = spark.sparkContext

    def slow(batches):
        for b in batches:
            time.sleep(300)
            yield b

    def parquet(self, path, *a, **kw):
        if "/docmap/bpart=" in path:
            # a slow docmap write: a long job on the docmap thread
            part_tags.extend(sc.getJobTags())
            slow_started.set()
            spark.range(1).mapInPandas(slow, "id long").collect()
        elif "/postings/bpart=" in path:
            assert slow_started.wait(60)
            time.sleep(1)  # let the slow job start its task
            raise RuntimeError("injected postings failure")
        return real_parquet(self, path, *a, **kw)

    d = str(tmp_path / "idx")
    docs = _corpus(spark, n_convs=10)
    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    t0 = time.time()
    with pytest.raises(RuntimeError, match="injected postings failure"):
        build_index(docs, d, shard_size=1000, salt_chunk=60,
                    shards_per_part=1, id_assign_partitions=2)
    assert time.time() - t0 < 120, "the failure waited out the docmap write"
    mdir = f"{d}/manifest"
    assert not os.path.isdir(mdir) or not os.listdir(mdir)
    tags = [t for t in part_tags if t.startswith("oboyu-part-")]
    assert tags, part_tags
    jtracker = sc._jsc.sc().statusTracker()
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while True:
        running = [j for t in tags for j in jtracker.getJobIdsForTag(t)
                   if (info := tracker.getJobInfo(j)) is not None
                   and info.status == "RUNNING"]
        if not running or time.time() > deadline:
            break
        time.sleep(0.2)
    assert not running, f"part jobs still running: {running}"


# ---------------------------------------------------------------------------
# sync_docs as one mutation step: crash windows, faults, chain identity
# ---------------------------------------------------------------------------

def _sync_case(spark, tmp_path):
    """A built index, a sync feed over it (two top-ranked docs modified,
    one deleted, one new doc), the changed keys, and what an uncrashed
    sync leaves on a clone: (search results, (n_docs, avgdl))."""
    import shutil

    from oboyu_spark.operators.postings import sync_docs

    docs = _corpus(spark, n_convs=30)
    d = str(tmp_path / "idx")
    build_index(docs, d, **KW)
    top = sorted({x[0] for res in _results(spark, d, k=20).values()
                  for x in res[:3]})
    mod, gone = set(top[:2]), {top[2]}
    feed = [(r["doc_id"],
             r["text"] + " updated revision text" if r["doc_id"] in mod
             else r["text"])
            for r in docs.collect() if r["doc_id"] not in gone]
    feed.append(("brand#new1", "completely new spark index document"))
    incoming = spark.createDataFrame(feed, "doc_id string, text string")
    clone = str(tmp_path / "clone")
    shutil.copytree(d, clone)
    sync_docs(incoming, clone)
    meta = load_meta(clone)
    return d, incoming, mod | gone, (_results(spark, clone, k=12),
                                     (meta["n_docs"], meta["avgdl"]))


def _converged(spark, d, want) -> None:
    """``d`` serves what ``want`` holds, holds no key twice and no
    tombstones."""
    meta = load_meta(d)
    assert (_results(spark, d, k=12), (meta["n_docs"], meta["avgdl"])) == want
    dm = spark.read.parquet(f"{d}/docmap")
    assert dm.count() == dm.select("doc_id").distinct().count()
    assert not os.path.exists(f"{d}/tombstones/doc_ints.json")


def _masked(spark, d, keys) -> bool:
    return not {x[0] for res in _results(spark, d, k=50).values()
                for x in res} & keys


def _running_tagged_jobs(sc, tags, wait_s: float = 30) -> list:
    """Ids of the jobs carrying one of ``tags`` still RUNNING after up
    to ``wait_s`` seconds."""
    jtracker = sc._jsc.sc().statusTracker()
    tracker = sc.statusTracker()
    deadline = time.time() + wait_s
    while True:
        running = [j for t in tags for j in jtracker.getJobIdsForTag(t)
                   if (info := tracker.getJobInfo(j)) is not None
                   and info.status == "RUNNING"]
        if not running or time.time() > deadline:
            return running
        time.sleep(0.2)


def test_sync_crash_before_part_loop_converges(spark, tmp_path, monkeypatch):
    """A sync that crashes after its staged writes (tombstones, the new
    generation, the rewritten slices) but before the part loop keeps
    the deleted and modified docs masked. The re-run's diff runs
    against a docmap that lacks the staged docs, so it stages them
    again as a newer generation and the unbuilt one is never built: no
    key lands in the docmap twice, and searches and stats equal an
    uncrashed sync's."""
    from oboyu_spark.operators import postings as P
    from oboyu_spark.operators.postings import sync_docs

    d, incoming, changed, want = _sync_case(spark, tmp_path)
    assert not _masked(spark, d, changed)

    def boom(*a, **k):
        raise RuntimeError("injected sync crash")

    with monkeypatch.context() as m:
        m.setattr(P, "_build_parts", boom)
        with pytest.raises(RuntimeError, match="injected sync crash"):
            sync_docs(incoming, d)
    with open(f"{d}/staged.json") as fh:
        assert len(json.load(fh)["gens"]) == 2, "the new rows were staged"
    assert os.path.exists(f"{d}/tombstones/doc_ints.json")
    assert _masked(spark, d, changed), "changed docs must stay masked"

    out = sync_docs(incoming, d)
    assert (out["new"], out["modified"], out["deleted"]) == (3, 0, 0)
    _converged(spark, d, want)


def test_build_resume_skips_abandoned_generation(spark, tmp_path,
                                                monkeypatch):
    """A sync crashes before its part loop and is re-run, so its first
    new generation is abandoned (its keys sit in a newer one). A later
    build_index on the same directory resumes generation 0 only: no key
    lands in the docmap twice, n_docs counts the distinct keys, and
    searches and stats stay an uncrashed sync's."""
    from oboyu_spark.operators import postings as P
    from oboyu_spark.operators.postings import sync_docs

    d, incoming, _, want = _sync_case(spark, tmp_path)
    with monkeypatch.context() as m:
        m.setattr(P, "_build_parts", lambda *a, **k: 1 / 0)
        with pytest.raises(ZeroDivisionError):
            sync_docs(incoming, d)
    sync_docs(incoming, d)
    with open(f"{d}/staged.json") as fh:
        assert len(json.load(fh)["gens"]) == 3
    meta = build_index(incoming, d, **KW)
    dm = spark.read.parquet(f"{d}/docmap")
    keys = dm.select("doc_id").distinct().count()
    assert dm.count() == keys == meta["n_docs"]
    _converged(spark, d, want)


def test_append_after_compaction_crash_builds_stale_parts(spark, tmp_path,
                                                          monkeypatch):
    """A compaction crashes after marking its parts stale (their staged
    slices already rewritten). The next append_docs builds those parts
    with its own, so it passes finalize's integrity gate and leaves the
    stats and searches of a clean compaction followed by the same
    append."""
    import shutil

    from oboyu_spark.operators import postings as P

    d = str(tmp_path / "idx")
    build_index(_corpus(spark, n_convs=30), d, **KW)
    victims = sorted({x[0] for res in _results(spark, d, k=20).values()
                      for x in res[:2]})[:2]
    delete_docs(spark, d, victims)
    clone = str(tmp_path / "clone")
    shutil.copytree(d, clone)
    new = spark.createDataFrame(
        [(f"fresh#{i}", "spark index search fresh posting") for i in range(4)],
        "doc_id string, text string")

    with monkeypatch.context() as m:
        m.setattr(P, "_build_one_part", lambda *a, **k: 1 / 0)
        with pytest.raises(ZeroDivisionError):
            compact_index(spark, d)
    assert any(row["status"] == "stale" for row in _manifests(d))
    got = append_docs(new, d)
    assert all(row["status"] == "done" for row in _manifests(d))

    compact_index(spark, clone)
    want = append_docs(new, clone)
    keys = ("n_docs", "total_terms", "avgdl", "n_postings", "n_vocab_terms")
    assert [got[x] for x in keys] == [want[x] for x in keys]
    assert _results(spark, d, k=12) == _results(spark, clone, k=12)


def test_sync_docmap_write_failure_fails_fast(spark, tmp_path, monkeypatch):
    """Fault: the part docmap writes of a sync fail. The sync raises in
    bounded time, writes no done manifest for the failed parts (the new
    part leaves no postings behind), leaves none of their jobs running
    and keeps the changed docs masked; re-running the sync converges to
    an uncrashed sync's searches and stats."""
    from pyspark.sql.readwriter import DataFrameWriter

    from oboyu_spark.operators.postings import sync_docs

    d, incoming, changed, want = _sync_case(spark, tmp_path)
    before = {m["bpart"] for m in _manifests(d)}
    sc = spark.sparkContext
    part_tags: list = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if "/docmap/bpart=" in path:
            part_tags.extend(sc.getJobTags())
            raise RuntimeError("injected docmap failure")
        return real_parquet(self, path, *a, **kw)

    t0 = time.time()
    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected docmap failure"):
            sync_docs(incoming, d)
    assert time.time() - t0 < 120
    rows = {m["bpart"]: m for m in _manifests(d)}
    assert set(rows) == before, "no manifest for the new part"
    stale = [p for p, m in rows.items() if m["status"] == "stale"]
    with open(f"{d}/staged.json") as fh:
        new = set(json.load(fh)["parts"]) - before
    assert stale and new
    assert not any(os.path.exists(f"{d}/postings/bpart={p}") for p in new)
    # one failed docmap write per rebuilt or new part, none still running
    tags = [t for t in part_tags if t.startswith("oboyu-part-")]
    assert len(set(tags)) == len(stale) + len(new), part_tags
    assert not _running_tagged_jobs(sc, tags)
    assert _masked(spark, d, changed)

    sync_docs(incoming, d)
    _converged(spark, d, want)


def test_sync_vocabulary_write_failure_keeps_meta(spark, tmp_path,
                                                  monkeypatch):
    """Fault: finalize's vocabulary write fails during a sync. The sync
    raises, stats/meta.json stays byte-identical and the tombstones
    stay; re-running the sync converges to an uncrashed sync's
    searches and stats."""
    from pyspark.sql.readwriter import DataFrameWriter

    from oboyu_spark.operators.postings import sync_docs

    d, incoming, changed, want = _sync_case(spark, tmp_path)
    with open(f"{d}/stats/meta.json", "rb") as fh:
        meta_bytes = fh.read()
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *a, **kw):
        if path.rstrip("/").endswith("/vocabulary"):
            raise RuntimeError("injected vocabulary failure")
        return real_parquet(self, path, *a, **kw)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", parquet)
        with pytest.raises(RuntimeError, match="injected vocabulary failure"):
            sync_docs(incoming, d)
    with open(f"{d}/stats/meta.json", "rb") as fh:
        assert fh.read() == meta_bytes
    assert os.path.exists(f"{d}/tombstones/doc_ints.json")
    assert _masked(spark, d, changed)

    sync_docs(incoming, d)
    _converged(spark, d, want)


@pytest.mark.parametrize("key_type", ["string", "bigint"])
def test_sync_equals_delete_append_compact(spark, tmp_path, key_type):
    """One sync step leaves the index that delete_docs → append_docs →
    compact_index leave on a clone: the same docmap (doc_id, doc_int,
    dl, fp, bpart), postings rows and vocabulary, for string and
    bigint keys."""
    import shutil

    from oboyu_spark.operators.postings import sync_docs

    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]

    def key(i: int):
        return f"k{i:03d}" if key_type == "string" else i

    def frame(rows):
        return spark.createDataFrame(rows, f"doc_id {key_type}, text string")

    base = [(key(i), " ".join(words[(i * j) % 6] for j in range(1, 2 + i % 5)))
            for i in range(90)]
    d, clone = str(tmp_path / "sync"), str(tmp_path / "chain")
    build_index(frame(base), d, shard_size=20, salt_chunk=15,
                shards_per_part=2, id_assign_partitions=4)
    shutil.copytree(d, clone)
    mod, gone = {key(3), key(47)}, {key(10), key(88)}
    new = [(key(i), f"fresh alpha doc {i}") for i in range(100, 106)]
    feed = [(k, t + " zeta revised" if k in mod else t)
            for k, t in base if k not in gone] + new
    out = sync_docs(frame(feed), d)
    assert (out["new"], out["modified"], out["deleted"]) == (6, 2, 2)

    delete_docs(spark, clone, sorted(mod | gone))
    append_docs(frame([r for r in feed if r[0] in mod] + new), clone)
    compact_index(spark, clone)

    def rows(x: str, name: str) -> list:
        return sorted(repr(tuple(r)) for r in
                      spark.read.parquet(f"{x}/{name}").collect())

    assert load_meta(d)["n_docs"] == len(feed)
    for name in ("docmap", "postings", "vocabulary"):
        assert rows(d, name) == rows(clone, name), name
