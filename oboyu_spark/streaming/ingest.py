"""Structured-Streaming incremental index ingest.

The reference has NO streaming operators (SURVEY §2.9) — its
"new data arrives" story is the file-metadata change detector
(change_detector.py:64-105) re-run as a batch. The Spark-native
equivalent of that story is a stream of transcript files feeding the
incremental index builder:

    readStream(new transcript parquet files)
      → foreachBatch: append_docs(batch, index_dir)

Each micro-batch claims fresh id ranges / build partitions (see
operators/postings.append_docs), so existing shards stay immutable.
Replay safety has TWO layers:

- crash DURING a batch: the staged integrity check raises on a
  partial duplicate re-stage, surfacing the conflict instead of
  corrupting;
- crash BETWEEN a completed append and the streaming checkpoint
  commit: a replayed batch is first checked against the batch-id
  manifest (``stream_batches.json``, the foreachBatch recipe from the
  Structured Streaming guide) and then anti-joined against the live
  docmap keys — so even a replay landing in the instant between the
  finished append and the manifest write re-appends nothing.

Batch mode stays the primary path (the north rule is batch); this is
the operational "keep the index fresh" add-on.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..operators.postings import _write_json
from ..sources.transcripts import turns_as_docs


def _done_batches(index_dir: str) -> set[int]:
    try:
        with open(f"{index_dir}/stream_batches.json") as fh:
            return set(json.load(fh))
    except (FileNotFoundError, json.JSONDecodeError):
        return set()


def _mark_batch_done(index_dir: str, batch_id: int) -> None:
    _write_json(f"{index_dir}/stream_batches.json",
                sorted(_done_batches(index_dir) | {int(batch_id)}))


def handle_batch_factory(index_dir: str):
    """foreachBatch handler with two replay guards: the batch manifest
    (fast path — skip a batch id already finalized) and, for the crash
    window between a completed append and the manifest write, an
    anti-join of the batch's doc keys against the LIVE docmap keys so a
    replayed batch re-appends only keys that did NOT land (usually
    none). Together these make the append effectively exactly-once
    without requiring the manifest write to be atomic with the index
    commit.

    Contract: the stream is APPEND-ONLY ON KEYS. The anti-join compares
    keys, not content — a re-emitted doc_id with changed text is
    dropped (updates must go through ``sync_docs``, which diffs the
    content fingerprint). Tombstoned doc_ints are filtered out of the
    docmap (``postings._filter_keys``) before the anti-join, so a key
    deleted via ``delete_docs`` and later re-emitted on the stream IS
    re-added — same behavior whether or not ``compact_index`` has run
    in between."""
    from ..operators.postings import (_filter_keys, append_docs,
                                      build_index, load_tombstones,
                                      read_docmap)

    def handle_batch(batch_df, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if int(batch_id) in _done_batches(index_dir):
            return  # replay of a fully-finalized batch — idempotent skip
        if not os.path.exists(f"{index_dir}/stats/meta.json"):
            # no finalize marker → the index has never COMPLETED a
            # build here: bootstrap (or resume a crashed bootstrap)
            # instead of requiring a prior batch build. Guarding on the
            # FINALIZE marker, not staged.json, matters (ADVICE r5 #1):
            # staged.json lands at the END of staging, before part
            # builds and finalize — keying on it would send a replay
            # after a post-staging crash down the append path, where
            # load_meta raises on the missing stats/meta.json and the
            # stream wedges. build_index with an existing staged.json
            # resumes the frozen staging and skips done bparts, so
            # re-entering it mid-bootstrap is safe and
            # checkpoint-resumable.
            build_index(batch_df, index_dir)
            _mark_batch_done(index_dir, batch_id)
            return
        if os.path.isdir(f"{index_dir}/docmap"):
            existing = _filter_keys(
                read_docmap(batch_df.sparkSession, index_dir), "doc_int",
                load_tombstones(index_dir), keep=False).select("doc_id")
            batch_df = batch_df.join(existing, "doc_id", "left_anti")
            if batch_df.isEmpty():
                _mark_batch_done(index_dir, batch_id)
                return  # crash-window replay: everything already landed
        append_docs(batch_df, index_dir)
        _mark_batch_done(index_dir, batch_id)

    return handle_batch


def stream_transcripts_into_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ),
    trigger_once: bool = True,
):
    """Start (and by default run-once) the ingest stream. Returns the
    StreamingQuery."""
    stream = (
        spark.readStream.schema(schema).parquet(input_dir)
    )
    docs = turns_as_docs(stream).select("doc_id", "text")

    writer = (
        docs.writeStream.foreachBatch(handle_batch_factory(index_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
