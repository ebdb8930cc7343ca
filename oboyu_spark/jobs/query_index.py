"""spark-submit job: batch BM25 top-k over a built index.

    spark-submit --master local[32] \
        --py-files oboyu_spark.zip \
        oboyu_spark/jobs/query_index.py \
        --index /path/to/index_dir \
        --query "検索 spark index" [--query "..."] \
        [--queries-file queries.txt]  (one query per line) \
        [--k 10] [--scorer taat|bmw|auto] [--output results.parquet]

Prints one JSON line per (query, rank) to stdout unless --output is
given, in which case results are written as parquet.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", default=[])
    ap.add_argument("--queries-file")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--scorer", choices=["taat", "bmw", "auto"],
                    default="taat",
                    help="the scatter's kernel (a search small enough "
                         "for the driver site always runs TAAT)")
    ap.add_argument("--mode", choices=["or", "and"], default="or",
                    help="'and' = posting-list intersection (docs must "
                         "contain every distinct query term)")
    ap.add_argument("--output")
    args = ap.parse_args()

    queries = list(args.query)
    if args.queries_file:
        with open(args.queries_file) as fh:
            queries += [ln.strip() for ln in fh if ln.strip()]
    if not queries:
        print("no queries given", file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import SparkSession

    from oboyu_spark.operators.searchidx import search_index

    spark = SparkSession.builder.appName("oboyu_spark.query_index").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    res = search_index(spark, args.index, queries, k=args.k,
                       scorer=args.scorer, mode=args.mode)
    if args.output:
        res.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"queries": len(queries), "rows": n,
                          "seconds": round(time.time() - t0, 3)}))
    else:
        rows = res.collect()
        for r in rows:
            print(json.dumps({"query_id": r["query_id"],
                              "query": queries[r["query_id"]],
                              "doc_id": str(r["doc_id"]),
                              "score": r["score"]}))
        print(json.dumps({"queries": len(queries), "rows": len(rows),
                          "seconds": round(time.time() - t0, 3)}),
              file=sys.stderr)


if __name__ == "__main__":
    main()
