"""spark-submit job: sync the index to the current state of a corpus.

    spark-submit --master local[32] \
        --py-files oboyu_spark.zip \
        oboyu_spark/jobs/sync_index.py \
        --input  /path/to/current_corpus.parquet \
        --index  /path/to/index_dir \
        [--input-kind transcripts|documents] \
        [--keep-missing] [--no-compact]

The reference's change detector (change_detector.py:64-105) as a batch
job: hash-diff the incoming corpus against the index docmap; then one
mutation step (one part loop, one finalize) tombstones modified and
deleted docs, stages new and modified ones, and by default compacts so
df/avgdl are exact again. Prints the change summary + metrics JSON.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--index", required=True)
    ap.add_argument("--input-kind", choices=["transcripts", "documents"],
                    default="transcripts")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--keep-missing", action="store_true",
                    help="do not tombstone docs absent from the input "
                         "(partial-feed mode)")
    ap.add_argument("--no-compact", action="store_true",
                    help="leave tombstones for a later compact_index run")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from oboyu_spark.operators.postings import sync_docs
    from oboyu_spark.sources.transcripts import turns_as_docs

    spark = SparkSession.builder.appName("oboyu_sync_index").getOrCreate()
    from oboyu_spark.sources.io import read_input

    df = read_input(spark, args.input)
    if args.input_kind == "transcripts":
        df = turns_as_docs(df)
    out = sync_docs(
        df,
        args.index,
        id_col=args.id_col,
        text_col=args.text_col,
        delete_missing=not args.keep_missing,
        compact=not args.no_compact,
    )
    print(json.dumps(out, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
