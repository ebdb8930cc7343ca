"""Staging contract: the source corpus is materialized exactly once.

The round-1 build made three source passes (pre-write count() to size
id strides, the range-sort boundary sample, the staging write). The
redesign (a) derives dense ids from per-pid offsets of the WRITTEN
files — no pre-count — and (b) persists the keyed source
MEMORY_AND_DISK across the sample + write so the sort's boundary
sample doesn't re-run the source pipeline. The integrity read-back
touches only (pid, rn, doc_id) columns of staged parquet — never the
source and never the text bytes. An accumulator inside a mapInPandas
wrapper counts how many times source rows are actually materialized."""

from __future__ import annotations

from pyspark.sql import functions as F

from oboyu_spark.operators.postings import build_index, load_meta, staged_part_df
from oboyu_spark.operators.searchidx import search_index
from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs


def test_build_materializes_source_exactly_once(spark, tmp_path):
    raw = turns_as_docs(
        synthesize_transcripts(spark, n_convs=40, max_turns=6, seed=13)
    ).select("doc_id", "text")
    n = raw.count()
    acc = spark.sparkContext.accumulator(0)

    def probe(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    docs = raw.mapInPandas(probe, schema=raw.schema)
    d = str(tmp_path / "idx")
    meta = build_index(docs, d, shard_size=50, salt_chunk=60,
                       shards_per_part=2, id_assign_partitions=4)
    assert meta["n_docs"] == n
    # EXACTLY one pass over the source pipeline: the staging persist
    # (MEMORY_AND_DISK — never recomputes) feeds both the range-sort
    # boundary sample and the staging write from one materialization;
    # the round-1 pre-count + uncached sample made this 3n. Every later
    # stage (integrity read-back, part builds, finalize) reads staged
    # parquet, not the source.
    assert acc.value == n, (
        f"source materialized {acc.value / n:.1f}x (expected exactly 1x)"
    )


def test_staged_ids_dense_and_key_ordered(spark, tmp_path):
    raw = turns_as_docs(
        synthesize_transcripts(spark, n_convs=30, max_turns=6, seed=17)
    ).select("doc_id", "text")
    d = str(tmp_path / "idx")
    meta = build_index(raw, d, shard_size=50, salt_chunk=60,
                       shards_per_part=2, id_assign_partitions=4)
    rows = sorted(
        (r["doc_int"], r["doc_id"])
        for p in range(meta["n_parts"])
        for r in staged_part_df(spark, d, p).select("doc_int", "doc_id").collect()
    )
    ids = [i for i, _ in rows]
    keys = [k for _, k in rows]
    assert ids == list(range(len(rows)))          # dense 0..n-1
    assert keys == sorted(keys)                   # ascending in key order
    # and the index still answers correctly over those ids
    assert search_index(spark, d, "spark index", k=5).count() > 0


def test_empty_corpus_build_and_append(spark, tmp_path):
    """Zero-row builds/appends must produce an empty index gracefully
    (the pid-partitioned staged write emits no data files to infer a
    schema from — regression guard)."""
    from oboyu_spark.operators.postings import append_docs, build_index

    empty = spark.createDataFrame([], "doc_id string, text string")
    d = str(tmp_path / "emptyidx")
    meta = build_index(empty, d, shard_size=50, salt_chunk=60,
                       shards_per_part=2, id_assign_partitions=4)
    assert meta["n_docs"] == 0 and meta["n_postings"] == 0
    assert search_index(spark, d, "anything", k=5).count() == 0
    # empty append over a real index is a no-op
    docs = turns_as_docs(
        synthesize_transcripts(spark, n_convs=5, max_turns=3, seed=4)
    ).select("doc_id", "text")
    d2 = str(tmp_path / "realidx")
    m1 = build_index(docs, d2, shard_size=50, salt_chunk=60,
                     shards_per_part=2, id_assign_partitions=4)
    m2 = append_docs(empty, d2)
    assert m2["n_docs"] == m1["n_docs"]
    assert m2["n_postings"] == m1["n_postings"]
