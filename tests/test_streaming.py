"""Structured-Streaming incremental ingest: two file drops → index
equals a batch build over the union (gated oracle comparison)."""

from __future__ import annotations

import pytest

from oboyu_spark.operators.postings import build_index, load_meta
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.oracle.pybm25 import PyBM25
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs
from oboyu_spark.streaming.ingest import stream_transcripts_into_index


def test_streaming_ingest_matches_batch(spark, tmp_path):
    from pyspark.sql import functions as F

    inp = str(tmp_path / "in")
    idx = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")

    tr1 = synthesize_transcripts(spark, n_convs=25, max_turns=6, seed=3)
    tr2 = synthesize_transcripts(spark, n_convs=15, max_turns=6, seed=5).select(
        F.concat(F.lit("x"), "conv_id").alias("conv_id"),
        "turn_idx", "role", "text", "tool", "ts",
    )

    # bootstrap the index with the first batch (streaming appends need
    # an existing staged index)
    base_docs = turns_as_docs(tr1).select("doc_id", "text")
    build_index(base_docs, idx, shard_size=50, salt_chunk=60,
                shards_per_part=2, id_assign_partitions=4)

    # drop batch 2 as files, run the stream once
    tr2.write.mode("overwrite").parquet(inp)
    q = stream_transcripts_into_index(spark, inp, idx, chk)
    q.awaitTermination(120)

    meta = load_meta(idx)
    n1, n2 = base_docs.count(), tr2.count()
    assert meta["n_docs"] == n1 + n2

    # rank identity vs the oracle over the union corpus
    union = [(r["doc_id"], r["text"]) for r in base_docs.collect()] + [
        (r["doc_id"], r["text"])
        for r in turns_as_docs(tr2).select("doc_id", "text").collect()
    ]
    oracle = PyBM25()
    oracle.index(union)
    for query in ["spark index", "検索 分散"]:
        got = search_index(spark, idx, query, k=10).collect()
        exp = oracle.search(query, k=10)
        assert [r["doc_id"] for r in got] == [d for d, _ in exp], query
        for r, (_, s) in zip(got, exp):
            assert r["score"] == pytest.approx(s, rel=1e-9)


def test_replay_of_finalized_batch_is_skipped(spark, tmp_path):
    """Crash between a completed append and the checkpoint commit
    replays the batch; the batch manifest must make the replay a no-op
    instead of silently double-indexing."""
    from pyspark.sql import functions as F

    from oboyu_spark.streaming.ingest import _done_batches, handle_batch_factory

    idx = str(tmp_path / "idx")
    base = synthesize_transcripts(spark, n_convs=10, max_turns=4, seed=3)
    base_docs = turns_as_docs(base).select("doc_id", "text")
    build_index(base_docs, idx, shard_size=50, salt_chunk=60,
                shards_per_part=2, id_assign_partitions=4)
    n0 = load_meta(idx)["n_docs"]

    extra = turns_as_docs(
        synthesize_transcripts(spark, n_convs=5, max_turns=4, seed=9).select(
            F.concat(F.lit("y"), "conv_id").alias("conv_id"),
            "turn_idx", "role", "text", "tool", "ts",
        )
    ).select("doc_id", "text")
    n_extra = extra.count()

    handler = handle_batch_factory(idx)
    handler(extra, 0)
    assert load_meta(idx)["n_docs"] == n0 + n_extra
    assert _done_batches(idx) == {0}
    # simulated checkpoint replay of the SAME finalized batch id
    handler(extra, 0)
    assert load_meta(idx)["n_docs"] == n0 + n_extra  # not double-indexed


def test_bootstrap_guard_resumes_crashed_build(spark, tmp_path,
                                               crash_after_manifests):
    """ADVICE r5 #1: the bootstrap guard keys on the FINALIZE marker
    (stats/meta.json), not staged.json — staged.json lands at the END
    of staging, BEFORE part builds and finalize, so a crash
    mid-bootstrap used to send the replay down the append path, where
    load_meta raises on the missing stats/meta.json and the stream
    wedges permanently. The replay must re-enter the
    checkpoint-resumable build instead."""
    import os

    import pytest as _pytest

    from oboyu_spark.streaming.ingest import _done_batches, handle_batch_factory

    idx = str(tmp_path / "idx")
    docs = turns_as_docs(
        synthesize_transcripts(spark, n_convs=10, max_turns=4, seed=3)
    ).select("doc_id", "text")
    n = docs.count()
    # crash mid-bootstrap: staging completes, the build dies before
    # finalize writes the stats/meta.json marker
    with crash_after_manifests(0), \
            _pytest.raises(RuntimeError, match="injected failure"):
        build_index(docs, idx)
    assert os.path.exists(f"{idx}/staged.json")
    assert not os.path.exists(f"{idx}/stats/meta.json")
    # checkpoint replay re-delivers the batch: the handler resumes the
    # frozen-staging build (skipping done parts) and finalizes
    handler = handle_batch_factory(idx)
    handler(docs, 0)
    assert load_meta(idx)["n_docs"] == n
    assert _done_batches(idx) == {0}
    # and a further replay of the finalized batch is the usual no-op
    handler(docs, 0)
    assert load_meta(idx)["n_docs"] == n


def test_replay_guard_readds_tombstoned_keys(spark, tmp_path):
    """ADVICE r2: the anti-join must ignore tombstoned doc_ints — a key
    deleted via delete_docs and then re-emitted on the stream is
    re-added, not silently dropped (same behavior pre/post compaction)."""
    from oboyu_spark.operators.postings import delete_docs, load_tombstones
    from oboyu_spark.streaming.ingest import handle_batch_factory

    idx = str(tmp_path / "idx")
    base = synthesize_transcripts(spark, n_convs=10, max_turns=4, seed=3)
    base_docs = turns_as_docs(base).select("doc_id", "text")
    build_index(base_docs, idx, shard_size=50, salt_chunk=60,
                shards_per_part=2, id_assign_partitions=4)
    n0 = load_meta(idx)["n_docs"]

    victim = base_docs.limit(1).collect()[0]
    delete_docs(spark, idx, [victim["doc_id"]])
    assert load_tombstones(idx)  # tombstoned, NOT compacted

    handler = handle_batch_factory(idx)
    re_emit = spark.createDataFrame(
        [(victim["doc_id"], victim["text"])], "doc_id string, text string"
    )
    handler(re_emit, 7)
    # stats: finalize counts LIVE docs — one tombstoned, one re-added
    assert load_meta(idx)["n_docs"] == n0
    # the deleted key came back: the docmap now holds its old
    # (tombstoned) row AND a new live row
    from pyspark.sql import functions as F
    rows = (
        spark.read.parquet(f"{idx}/docmap")
        .filter(F.col("doc_id") == victim["doc_id"])
    )
    assert rows.count() == 2
    live = rows.filter(~F.col("doc_int").isin(
        [int(x) for x in load_tombstones(idx)]))
    assert live.count() == 1


def test_replay_guard_tombstone_antijoin_path(spark, tmp_path, monkeypatch):
    """ADVICE r3: above postings.KEY_IN_LIST_MAX the tombstone filter
    runs as an anti-join instead of a giant In-literal — force the
    cutoff to 0 and pin identical re-add behavior through that branch."""
    from oboyu_spark.operators import postings
    from oboyu_spark.operators.postings import delete_docs, load_tombstones
    from oboyu_spark.streaming import ingest

    monkeypatch.setattr(postings, "KEY_IN_LIST_MAX", 0)
    idx = str(tmp_path / "idx")
    base = synthesize_transcripts(spark, n_convs=10, max_turns=4, seed=3)
    base_docs = turns_as_docs(base).select("doc_id", "text")
    build_index(base_docs, idx, shard_size=50, salt_chunk=60,
                shards_per_part=2, id_assign_partitions=4)
    n0 = load_meta(idx)["n_docs"]

    victim = base_docs.limit(1).collect()[0]
    delete_docs(spark, idx, [victim["doc_id"]])
    assert load_tombstones(idx)

    handler = ingest.handle_batch_factory(idx)
    re_emit = spark.createDataFrame(
        [(victim["doc_id"], victim["text"])], "doc_id string, text string"
    )
    handler(re_emit, 7)
    assert load_meta(idx)["n_docs"] == n0  # tombstoned one out, re-add in


class _FakeState:
    """Minimal GroupState stand-in for driving the assigner directly."""

    def __init__(self, timed_out=False, watermark_ms=0):
        self._v, self.exists = None, False
        self.hasTimedOut = timed_out
        self._wm = watermark_ms
        self.removed = False
        self.timeout_ms = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True

    def remove(self):
        self._v, self.exists, self.removed = None, False, True

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def _assign_batch(assigner, state, rows):
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return list(assigner(("c1",), iter([pdf]), state))[0]


def test_sessionization_late_event_never_rewinds_state():
    """Late-data contract part 1 (default, no tolerance): a cross-batch
    late event merges into the CURRENT session and does not rewind the
    high-water mark — the next on-time event is gapped against the max
    ts seen, exactly as the documented prefix semantics say."""
    from oboyu_spark.streaming.sessions import make_session_assigner

    assigner = make_session_assigner(gap_minutes=30)
    st = _FakeState()
    out1 = _assign_batch(assigner, st, [
        ("c1", 0, "2025-01-01 10:00:00"), ("c1", 1, "2025-01-01 10:10:00"),
    ])
    assert list(out1["session_idx"]) == [0, 0]
    # batch 2: one late straggler (09:59 < high water 10:10)
    out2 = _assign_batch(assigner, st, [("c1", 2, "2025-01-01 09:59:00")])
    assert list(out2["session_idx"]) == [0]  # merged, not a new session
    # batch 3: 10:35 is 25 min after the high water (10:10) → SAME
    # session; had the straggler rewound last_ts to 09:59 this would
    # have opened a spurious new session (36 min gap)
    out3 = _assign_batch(assigner, st, [("c1", 3, "2025-01-01 10:35:00")])
    assert list(out3["session_idx"]) == [0]


def test_sessionization_late_tolerance_drops():
    """Late-data contract part 2: with a finite tolerance, events older
    than high_water − tolerance are dropped; newer-but-late events
    still merge."""
    from oboyu_spark.streaming.sessions import make_session_assigner

    assigner = make_session_assigner(gap_minutes=30,
                                     late_tolerance_minutes=5)
    st = _FakeState()
    _assign_batch(assigner, st, [
        ("c1", 0, "2025-01-01 10:00:00"), ("c1", 1, "2025-01-01 10:10:00"),
    ])
    # 11 minutes late > 5 min tolerance → dropped
    out = _assign_batch(assigner, st, [("c1", 2, "2025-01-01 09:59:00")])
    assert len(out) == 0
    # 3 minutes late ≤ tolerance → kept, merged into current session
    out = _assign_batch(assigner, st, [("c1", 3, "2025-01-01 10:07:00")])
    assert list(out["session_idx"]) == [0]
    # state unaffected by the drop: 10:35 still gaps against 10:10
    out = _assign_batch(assigner, st, [("c1", 4, "2025-01-01 10:35:00")])
    assert list(out["session_idx"]) == [0]


def test_bounded_state_unit_contract():
    """bounded_state at the assigner level: the timeout horizon is
    last_ts + gap + tolerance, a timed-out invocation removes state and
    emits nothing, and session ids carry the first-seen session epoch."""
    from oboyu_spark.streaming.sessions import make_session_assigner

    assigner = make_session_assigner(gap_minutes=30,
                                     late_tolerance_minutes=5,
                                     bounded_state=True)
    st = _FakeState()
    out = _assign_batch(assigner, st, [
        ("c1", 0, "2025-01-01 10:00:00"), ("c1", 1, "2025-01-01 10:10:00"),
    ])
    t0 = int(__import__("pandas").Timestamp("2025-01-01 10:00:00").value
             // 1_000_000_000)
    assert list(out["session_id"]) == [f"c1#t{t0}", f"c1#t{t0}"]
    # horizon = (10:10 + 30min gap + 5min tol) in ms
    assert st.timeout_ms == (t0 + 600 + 35 * 60) * 1000
    # a late merge must NOT retro-date the session identity
    out = _assign_batch(assigner, st, [("c1", 2, "2025-01-01 10:07:00")])
    assert list(out["session_id"]) == [f"c1#t{t0}"]
    # timed-out invocation: state dropped, nothing emitted
    st2 = _FakeState(timed_out=True)
    st2.update((t0, 0, t0))
    assert list(assigner(("c1",), iter([]), st2)) == []
    assert st2.removed


def test_bounded_state_eviction_pipeline(spark, tmp_path):
    """VERDICT r3 #2: with bounded_state the state store must not grow
    with total conversation cardinality, and a conversation re-appearing
    AFTER its state was evicted keeps the exact session identity the
    un-evicted assigner would have produced (epoch-based ids), with the
    documented ordinal reset."""
    import json as _json

    import pandas as pd
    from pyspark.sql import functions as F

    from oboyu_spark.streaming.sessions import sessionize_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))

    def _df(rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts string"
        ).select(
            "conv_id", "turn_idx",
            F.lit(None).cast("string").alias("role"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("ts").cast("timestamp").alias("ts"),
        )

    def _run():
        q = sessionize_stream(spark, inp, outp, chk, gap_minutes=30,
                              bounded_state=True)
        q.awaitTermination(120)
        rows = []
        for p in q.recentProgress:
            d = _json.loads(p.json) if hasattr(p, "json") else p
            for op in d.get("stateOperators") or []:
                rows.append(op["numRowsTotal"])
        return max(rows) if rows else None

    def _epoch(s):
        return int(pd.Timestamp(s).value // 1_000_000_000)

    # drop 1: 40 conversations at 10:00 → 40 state rows
    _df([(f"c{i:02d}", 0, "2025-01-01 10:00:00") for i in range(40)]) \
        .write.mode("append").parquet(inp)
    n1 = _run()
    assert n1 == 40
    # drop 2 advances max event time to 13:00 (watermark commits 12:30)
    _df([("w1", 0, "2025-01-01 13:00:00")]).write.mode("append").parquet(inp)
    _run()
    # drop 3: watermark 12:30 now exceeds every c* timeout (10:30) →
    # the 40 idle conversations are evicted in this batch
    _df([("w2", 0, "2025-01-01 13:05:00")]).write.mode("append").parquet(inp)
    n3 = _run()
    assert n3 is not None and n3 <= 3, \
        f"state not bounded: {n3} rows after eviction horizon"
    # drop 4: c00 re-appears AFTER eviction
    _df([("c00", 1, "2025-01-01 13:10:00")]).write.mode("append").parquet(inp)
    _run()

    got = spark.read.parquet(outp).filter(F.col("conv_id") == "c00").collect()
    by_turn = {r["turn_idx"]: r for r in got}
    # identity: epoch-based ids, the re-appearance id is exactly what a
    # never-evicted assigner computes (a 3h10m gap → new session at its
    # own first-seen epoch)
    assert by_turn[0]["session_id"] == f"c00#t{_epoch('2025-01-01 10:00:00')}"
    assert by_turn[1]["session_id"] == f"c00#t{_epoch('2025-01-01 13:10:00')}"
    # documented ordinal contract: reset-on-evict
    assert by_turn[1]["session_idx"] == 0


def test_windowed_turn_counts_with_watermark(spark, tmp_path):
    """Append-mode watermark semantics: only FINALIZED windows (end <
    watermark) reach the sink, their counts equal the batch groupBy,
    and a replayed/late drop can't double-count them."""
    from pyspark.sql import functions as F

    from oboyu_spark.streaming.aggregate import (
        stream_turn_rates, windowed_turn_counts,
    )

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    tr = synthesize_transcripts(spark, n_convs=40, max_turns=8, seed=21)
    tr.write.mode("overwrite").parquet(inp)

    q = stream_turn_rates(spark, inp, outp, chk,
                          window="10 minutes", watermark="30 minutes")
    q.awaitTermination(120)

    got = spark.read.parquet(outp)
    batch = (
        tr.groupBy(F.window("ts", "10 minutes").alias("w"), "role")
        .agg(F.count(F.lit(1)).cast("long").alias("n_turns"))
        .select(F.col("w.start").alias("window_start"), "role", "n_turns")
    )
    max_ts = tr.agg(F.max("ts")).collect()[0][0]
    g = {(r["window_start"], r["role"]): r["n_turns"] for r in got.collect()}
    b = {(r["window_start"], r["role"]): r["n_turns"] for r in batch.collect()}
    assert g, "no finalized windows emitted"
    for k, v in g.items():
        assert b[k] == v, k                    # exact counts
        assert k[0] < max_ts                   # only closed windows
    # tail windows (within the watermark horizon) are withheld
    assert len(g) < len(b)


def test_stateful_sessionization_across_runs(spark, tmp_path):
    """applyInPandasWithState sessionization: session ordinals carry
    across file drops AND across query restarts (state store restored
    from the checkpoint), matching the batch operator over the full
    stream prefix."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.sessionize import sessionize_turns
    from oboyu_spark.streaming.sessions import sessionize_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    rows1 = [
        ("c1", 0, "2025-01-01 10:00:00"),
        ("c1", 1, "2025-01-01 10:10:00"),
        ("c2", 0, "2025-01-01 09:00:00"),
    ]
    rows2 = [
        ("c1", 2, "2025-01-01 10:15:00"),   # within gap → same session
        ("c1", 3, "2025-01-01 12:00:00"),   # 105 min → new session
        ("c2", 1, "2025-01-01 11:00:00"),   # 120 min → new session
    ]

    def _df(rows):
        return spark.createDataFrame(
            rows, "conv_id string, turn_idx int, ts string"
        ).select(
            "conv_id", "turn_idx",
            F.lit(None).cast("string").alias("role"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.col("ts").cast("timestamp").alias("ts"),
        ).select("conv_id", "turn_idx", "role", "text", "tool", "ts")

    _df(rows1).write.mode("append").parquet(inp)
    q = sessionize_stream(spark, inp, outp, chk, gap_minutes=30)
    q.awaitTermination(120)
    _df(rows2).write.mode("append").parquet(inp)
    q = sessionize_stream(spark, inp, outp, chk, gap_minutes=30)  # restart
    q.awaitTermination(120)

    got = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in spark.read.parquet(outp).collect()}
    # batch operator over the union is the oracle
    full = _df(rows1 + rows2)
    exp = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in sessionize_turns(full, gap_minutes=30).collect()}
    assert got == exp
    assert got[("c1", 2)] == got[("c1", 0)]      # continued across runs
    assert got[("c1", 3)] != got[("c1", 2)]      # gap opened new session


def test_streaming_exact_dedup_across_batches(spark, tmp_path):
    """Streaming exact dedup: duplicates arriving in LATER micro-batches
    (and across query restarts — checkpointed state) are dropped; the
    survivor set equals the batch operator's keep-first-arrival set."""
    from pyspark.sql import functions as F

    from oboyu_spark.streaming.dedupstream import dedup_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    drop1 = [
        ("a", "the quick brown fox", "2025-01-01 10:00:00"),
        ("b", "a different document", "2025-01-01 10:01:00"),
        ("c", "the  quick  brown fox", "2025-01-01 10:02:00"),  # ws-dup of a
    ]
    drop2 = [
        ("d", "the quick brown fox", "2025-01-01 10:10:00"),   # cross-batch dup
        ("e", "a brand new document", "2025-01-01 10:11:00"),
    ]
    _df(drop1).write.mode("append").parquet(inp)
    q = dedup_stream(spark, inp, outp, chk)
    q.awaitTermination(120)
    _df(drop2).write.mode("append").parquet(inp)
    q = dedup_stream(spark, inp, outp, chk)  # restart: state restored
    q.awaitTermination(120)

    got = spark.read.parquet(outp)
    fps = [r["fingerprint"] for r in got.collect()]
    assert len(fps) == len(set(fps)) == 3  # a-or-c, b, e
    ids = {r["doc_id"] for r in got.collect()}
    assert "b" in ids and "e" in ids
    assert "d" not in ids                  # cross-batch dup dropped
    assert len(ids & {"a", "c"}) == 1      # exactly one of the ws-dups


def test_streaming_dedup_bounded_state_mode(spark, tmp_path):
    """dropDuplicatesWithinWatermark mode: in-horizon duplicates drop,
    and the state-store row count is bounded by the watermark horizon
    (evicted fingerprints disappear from numRowsTotal)."""
    import json as _json

    from pyspark.sql import functions as F

    from oboyu_spark.streaming.dedupstream import dedup_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    def _run():
        q = dedup_stream(spark, inp, outp, chk, watermark="30 minutes")
        q.awaitTermination(120)
        rows = []
        for p in q.recentProgress:
            d = _json.loads(p.json) if hasattr(p, "json") else p
            for op in d.get("stateOperators") or []:
                rows.append(op["numRowsTotal"])
        return max(rows) if rows else None

    # drop 1: 30 distinct docs at 10:00 + one in-batch duplicate
    rows = [(f"d{i}", f"document body number {i}", "2025-01-01 10:00:00")
            for i in range(30)]
    rows.append(("dup0", "document body number 0", "2025-01-01 10:05:00"))
    _df(rows).write.mode("append").parquet(inp)
    n1 = _run()
    assert n1 is not None and n1 >= 30
    # drop 2: 3h later — watermark advances far past every fingerprint
    _df([("x1", "late fresh doc", "2025-01-01 13:00:00")]) \
        .write.mode("append").parquet(inp)
    _run()
    # drop 3: the old fingerprints must be evicted by now
    _df([("x2", "another fresh doc", "2025-01-01 13:05:00")]) \
        .write.mode("append").parquet(inp)
    n3 = _run()
    assert n3 is not None and n3 <= 5, f"state not bounded: {n3}"
    # exactly one of the two same-fingerprint rows survived (which one
    # is batch-order-dependent); the duplicate itself was dropped
    got = spark.read.parquet(outp)
    assert got.filter(F.col("doc_id").isin(["d0", "dup0"])).count() == 1


def test_prepare_stream_curates_on_arrival(spark, tmp_path):
    """Streaming exact-dedup + quality gate in one plan: junk is
    filtered BEFORE the stateful dedup (never enters fingerprint
    state), duplicates drop across batches, survivors match the batch
    pipeline's exact+quality stages."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.streaming.dedupstream import prepare_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    good = ("a long and reasonable document about distributed query "
            "processing that passes the quality gate easily " * 3)

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    drop1 = [
        ("a", good + "alpha", "2025-01-01 10:00:00"),
        ("junk", "!!! ??? !!! ??? !!!", "2025-01-01 10:01:00"),
    ]
    drop2 = [
        ("a2", good + "alpha", "2025-01-01 10:10:00"),   # cross-batch dup
        ("b", good + "beta", "2025-01-01 10:11:00"),
    ]
    _df(drop1).write.mode("append").parquet(inp)
    q = prepare_stream(spark, inp, outp, chk, min_quality=0.3)
    q.awaitTermination(120)
    _df(drop2).write.mode("append").parquet(inp)
    q = prepare_stream(spark, inp, outp, chk, min_quality=0.3)
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert got == {"a", "b"}  # junk gated, a2 deduped
    # batch twin over the union (exact + quality, no near stage)
    union = _df(drop1 + drop2).select("doc_id", "text")
    batch = prepare_corpus(union, exact=True, near_threshold=None,
                           min_quality=0.3, chunk_size=None)["docs"]
    batch_fps = {r["fingerprint"] for r in batch.select(
        F.md5(F.regexp_replace(F.trim("text"), r"\s+", " "))
        .alias("fingerprint")).collect()}
    stream_fps = {r["fingerprint"]
                  for r in spark.read.parquet(outp).collect()}
    assert stream_fps == batch_fps


def test_curate_stream_near_dedup_matches_batch_pipeline(spark, tmp_path):
    """VERDICT r5 #7: the streaming near-dedup lens — per-batch
    MinHash index append + drop-higher-id, with RETROACTIVE tombstoning
    when a lower-id near-dup arrives after its pair was indexed — must
    leave the live index holding exactly the docs
    prepare_corpus(near_threshold=...) keeps over the same corpus, and
    (post-compact) answering queries identically to a batch build over
    those survivors."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.postings import (
        build_index, compact_index, load_tombstones,
    )
    from oboyu_spark.operators.searchidx import search_index
    from oboyu_spark.streaming.dedupstream import curate_and_index_stream

    inp, idx, chk, mh, bidx = (str(tmp_path / d)
                               for d in ("in", "idx", "chk", "mh", "bidx"))
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark forest tonight ")
    other = ("completely different content discussing parquet row "
             "groups and shuffle partitions at length here today ")

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    # batch 1: b10 + its in-batch near-dup b11 (b10 < b11 → b11
    # dropped on arrival), unrelated b20
    drop1 = [
        ("b10", base + "alpha", "2025-01-01 10:00:00"),
        ("b11", base + "alpha beta", "2025-01-01 10:01:00"),
        ("b20", other, "2025-01-01 10:02:00"),
    ]
    # batch 2: exact dup of b20 (cross-batch — the fingerprint STATE
    # drops it deterministically; within one micro-batch Spark's
    # dropDuplicates keeps an arbitrary copy, so exact-dup parity
    # pins always split dups across batches), and b05 — a LOWER-id
    # near-dup of the already-indexed b10 → the handler must
    # retroactively tombstone b10; plus fresh b30
    drop2 = [
        ("b21", other, "2025-01-01 10:10:00"),  # exact dup of b20
        ("b05", base + "alpha gamma", "2025-01-01 10:10:00"),
        ("b30", "streaming watermark eviction keeps bounded state while "
                "late arrivals still join their windows correctly",
         "2025-01-01 10:11:00"),
    ]
    kw = dict(min_quality=None, near_threshold=0.4, minhash_dir=mh,
              num_perm=16, bands=8)
    _df(drop1).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, **kw)
    q.awaitTermination(180)
    _df(drop2).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, **kw)
    q.awaitTermination(180)

    # batch twin over the SAME union, same stage order semantics
    union = _df(drop1 + drop2).select("doc_id", "text")
    exp_docs = prepare_corpus(
        union, exact=True, near_threshold=0.4, near_num_perm=16,
        near_bands=8, min_quality=None, chunk_size=None,
    )["docs"]
    exp_ids = {r["doc_id"] for r in exp_docs.select("doc_id").collect()}
    assert exp_ids == {"b05", "b20", "b30"}  # sanity: policy did bite

    tomb = {int(t) for t in load_tombstones(idx)}
    live = {
        r["doc_id"]
        for r in spark.read.parquet(f"{idx}/docmap").collect()
        if int(r["doc_int"]) not in tomb
    }
    assert live == exp_ids  # incl. the retroactive b10 tombstone
    assert tomb  # the retroactive branch actually fired

    # post-compact, query parity with a fresh batch build over the
    # batch pipeline's survivors (df stats exact again after compact)
    compact_index(spark, idx)
    build_index(exp_docs.select("doc_id", "text"), bidx, shard_size=100)
    for query in ("quick brown fox alpha", "parquet shuffle content"):
        got = search_index(spark, idx, query, k=10).collect()
        exp = search_index(spark, bidx, query, k=10).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] == \
            [(r["doc_id"], round(r["score"], 9)) for r in exp], query


def test_curate_and_index_stream_end_to_end(spark, tmp_path):
    """VERDICT r4 #8: ONE stream from raw documents to a live BM25
    index — quality gate → stateful exact dedup → replay-guarded
    append_docs per micro-batch — and the result answers queries
    IDENTICALLY to a batch build over the batch-curated corpus
    (quality-then-exact, the stream's stage order)."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.dedup import dedup_exact
    from oboyu_spark.operators.postings import build_index
    from oboyu_spark.operators.searchidx import search_index
    from oboyu_spark.operators.textstats import quality_score
    from oboyu_spark.streaming.dedupstream import curate_and_index_stream

    inp, idx, chk, bidx = (str(tmp_path / d)
                           for d in ("in", "idx", "chk", "bidx"))
    good = ("a long and reasonable document about distributed query "
            "processing that passes the quality gate easily " * 3)

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))

    drop1 = [
        ("a", good + "alpha", "2025-01-01 10:00:00"),
        ("junk", "!!! ??? !!! ??? !!!", "2025-01-01 10:01:00"),
        ("b", good + "beta gamma", "2025-01-01 10:02:00"),
    ]
    drop2 = [
        ("a2", good + "alpha", "2025-01-01 10:10:00"),  # cross-batch dup
        ("c", good + "delta processing", "2025-01-01 10:11:00"),
    ]
    _df(drop1).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, min_quality=0.3)
    q.awaitTermination(180)
    _df(drop2).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, min_quality=0.3)
    q.awaitTermination(180)

    indexed = {r["doc_id"]
               for r in spark.read.parquet(f"{idx}/docmap").collect()}
    assert indexed == {"a", "b", "c"}  # junk gated, a2 deduped

    # batch twin: quality-then-exact (the stream's order) over the
    # union, built into a fresh index — query results must be identical
    union = _df(drop1 + drop2).select("doc_id", "text")
    curated = dedup_exact(
        union.filter(quality_score(F.col("text")) >= 0.3))
    build_index(curated, bidx, shard_size=100)
    for query in ("distributed query processing", "beta delta", "alpha"):
        got = search_index(spark, idx, query, k=10).collect()
        exp = search_index(spark, bidx, query, k=10).collect()
        assert [(r["doc_id"], r["score"]) for r in got] == \
            [(r["doc_id"], r["score"]) for r in exp], query


def test_prepare_stream_repetition_gates(spark, tmp_path):
    """The repetition gates (max_dup_line_frac / max_top_bigram_frac)
    run in the stream's stateless predicate block — boilerplate is
    dropped on arrival, survivors match the batch pipeline under the
    same thresholds."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.streaming.dedupstream import prepare_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    rows = [
        ("good", "varied first line\nsecond line differs\nthird too",
         "2025-01-01 10:00:00"),
        ("boiler", "subscribe now\nsubscribe now\nsubscribe now\nbuy",
         "2025-01-01 10:01:00"),
        ("spammy", "click here click here click here click here",
         "2025-01-01 10:02:00"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, text string, ts string"
    ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))
    df.write.mode("append").parquet(inp)
    kw = dict(min_quality=None, max_dup_line_frac=0.4,
              max_top_bigram_frac=0.5)
    q = prepare_stream(spark, inp, outp, chk, **kw)
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.read.parquet(outp).collect()}
    assert got == {"good"}
    batch = prepare_corpus(
        df.select("doc_id", "text"), exact=True, near_threshold=None,
        chunk_size=None, **kw)["docs"]
    assert {r["doc_id"] for r in batch.collect()} == got


def test_prepare_stream_pii_gate_and_scrub(spark, tmp_path):
    """r7 batch parity: max_pii_count drops PII-dense docs in the
    stream's stateless predicate block (counted on the ORIGINAL text),
    pii_kinds masks the survivors AFTER the stateful dedup (the
    fingerprint column keeps the original text's hash — same semantics
    as the batch pipeline, where dedup sees pre-redaction content)."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.textstats import fingerprint_md5
    from oboyu_spark.streaming.dedupstream import prepare_stream

    inp, outp, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    rows = [
        ("clean", "a perfectly ordinary document about query engines",
         "2025-01-01 10:00:00"),
        ("sparse", "reach us at alice@example.org for spark help",
         "2025-01-01 10:01:00"),
        ("dense", "a@b.io c@d.io e@f.io g@h.io contact dump page",
         "2025-01-01 10:02:00"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, text string, ts string"
    ).select("doc_id", "text", F.col("ts").cast("timestamp").alias("ts"))
    df.write.mode("append").parquet(inp)
    kw = dict(min_quality=None, max_pii_count=1, pii_kinds=("email",))
    q = prepare_stream(spark, inp, outp, chk, **kw)
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    assert set(got) == {"clean", "sparse"}  # dense gated on arrival
    assert got["sparse"]["text"] == \
        "reach us at <EMAIL> for spark help"
    # fingerprint = hash of the ORIGINAL text (dedup pre-redaction)
    orig_fp = df.filter(F.col("doc_id") == "sparse").select(
        fingerprint_md5(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert got["sparse"]["fingerprint"] == orig_fp
    # batch twin under the same knobs
    batch = prepare_corpus(df.select("doc_id", "text"), exact=True,
                           near_threshold=None, chunk_size=None,
                           max_pii_count=1, pii_kinds=("email",))["docs"]
    brows = {r["doc_id"]: r["text"] for r in batch.collect()}
    assert set(brows) == set(got)
    assert brows["sparse"] == got["sparse"]["text"]


def test_streaming_span_dedup(spark, tmp_path):
    """curate_and_index_stream(span_n=..., span_dir=...): already-seen
    n-token spans are removed from arriving docs before indexing
    (first-ARRIVED occurrence survives; equals the batch rule when
    arrival follows (doc_id, pos) order), and the span-store lookup is
    replay-deterministic (reads only committed batches < batch_id)."""
    from pyspark.sql import functions as F

    from oboyu_spark.operators.dedup import span_filter_and_append
    from oboyu_spark.operators.searchidx import search_index
    from oboyu_spark.streaming.dedupstream import curate_and_index_stream

    inp, idx, chk, sp = (str(tmp_path / d)
                         for d in ("in", "idx", "chk", "spans"))
    boiler = " ".join(f"boiler{i}" for i in range(12))

    def _df(rows):
        return spark.createDataFrame(
            rows, "doc_id string, text string, ts string"
        ).select("doc_id", "text",
                 F.col("ts").cast("timestamp").alias("ts"))

    kw = dict(min_quality=None, span_n=10, span_dir=sp)
    batch1 = [("a", "alpha owner words " + boiler + " tail one",
               "2025-01-01 10:00:00"),
              ("c", "totally unrelated content about query engines",
               "2025-01-01 10:01:00")]
    batch2 = [("b", "beta follower text " + boiler + " other end",
               "2025-01-01 10:10:00")]
    _df(batch1).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, **kw)
    q.awaitTermination(120)
    _df(batch2).write.mode("append").parquet(inp)
    q = curate_and_index_stream(spark, inp, idx, chk, **kw)
    q.awaitTermination(120)

    # the boilerplate span survives only in its first-arrived owner
    hits = {r.doc_id for r in search_index(
        spark, idx, "boiler0 boiler3 boiler7", k=10).collect()}
    assert hits == {"a"}
    # b's unique tokens are indexed (the doc survived, rewritten)
    hits_b = {r.doc_id for r in search_index(
        spark, idx, "beta follower", k=10, mode="and").collect()}
    assert hits_b == {"b"}

    # replay determinism of the store lookup: same batch id re-filters
    # identically (its own append is excluded by ordinal)
    late = spark.createDataFrame(
        [("m", "mid words " + boiler + " zz end")],
        "doc_id string, text string",
    )
    first = sorted(map(tuple, span_filter_and_append(
        late, sp, 10, batch_id=50).select(
        "doc_id", "text", "n_tokens_removed").collect()))
    replay = sorted(map(tuple, span_filter_and_append(
        late, sp, 10, batch_id=50).select(
        "doc_id", "text", "n_tokens_removed").collect()))
    assert first == replay
    # 13 = the 12 boiler tokens + 'words', whose [words boiler0..8]
    # context span is also store-known from doc a
    assert first[0][2] == 13

    # divergence pin: a LOWER-id copy arriving later loses its tokens
    # (first-ARRIVED wins on a stream; the batch operator would keep it)
    lower = spark.createDataFrame(
        [("A0", "earliest id " + boiler + " arrives last")],
        "doc_id string, text string",
    )
    out = span_filter_and_append(lower, sp, 10, batch_id=51).collect()[0]
    assert out.n_tokens_removed == 12 and "boiler0" not in out.text


def test_streaming_span_divergence_is_exactly_out_of_order(spark, tmp_path):
    """VERDICT r6 #5: bound the streaming-vs-batch span-dedup
    divergence. Streaming keeps the first-ARRIVED occurrence, batch
    keeps the first by (doc_id, pos) — so the two outputs may differ
    on exactly the docs touching a span whose (doc_id, pos)-first
    occurrence arrived in a LATER micro-batch, and on no other doc.
    Both sides preserve the invariant 'every duplicated span survives
    exactly once'."""
    from oboyu_spark.operators.dedup import (
        drop_duplicated_spans, span_filter_and_append,
    )

    sp = str(tmp_path / "spans")
    s1 = " ".join(f"ooo{i}" for i in range(8))   # out-of-order span
    s2 = " ".join(f"iii{i}" for i in range(8))   # in-order span
    rows = {
        # s1: first-by-id owner 'a' arrives AFTER high-id copy 'z'
        "a": "aa head " + s1 + " aa tail",
        "z": "zz head " + s1 + " zz tail",
        # s2: first-by-id owner 'b' arrives BEFORE high-id copy 'y'
        "b": "bb head " + s2 + " bb tail",
        "y": "yy head " + s2 + " yy tail",
        "c": "plain unrelated document body with no shared span",
    }
    all_docs = spark.createDataFrame(
        sorted(rows.items()), "doc_id string, text string"
    )
    batch_out = {r.doc_id: r.text
                 for r in drop_duplicated_spans(all_docs, n=8).collect()}

    def _b(ids):
        return spark.createDataFrame([(d, rows[d]) for d in ids],
                                     "doc_id string, text string")

    stream_out = {}
    for bid, ids in enumerate([["z", "b", "c"], ["a", "y"]]):
        for r in span_filter_and_append(_b(ids), sp, 8, bid).collect():
            stream_out[r.doc_id] = r.text
    # divergent docs are EXACTLY the two owners of the out-of-order
    # span: the stream kept z's copy, batch keeps a's
    diff = {d for d in rows if batch_out[d] != stream_out[d]}
    assert diff == {"a", "z"}
    assert "ooo0" in batch_out["a"] and "ooo0" not in batch_out["z"]
    assert "ooo0" in stream_out["z"] and "ooo0" not in stream_out["a"]
    # the in-order span and the untouched doc agree on both sides
    assert "iii0" in batch_out["b"] and "iii0" not in batch_out["y"]
    # single-survivor invariant holds on both sides for both spans
    for tok in ("ooo3", "iii3"):
        assert sum(tok in t for t in batch_out.values()) == 1
        assert sum(tok in t for t in stream_out.values()) == 1
