"""Supplementary benchmarks (r8) — rows that do NOT belong in the
frozen driver bench (bench.py is measurement-frozen) but back claims
in OPTIMIZATION_r08.md:

    python bench_extra.py mixed      # batch_mixed_auto_bigshard rows
    python bench_extra.py composed   # 1M-doc curate -> index -> serve
    python bench_extra.py composed --docs 250000   # smaller dry run

`mixed` (VERDICT r7 #1 done-bar): a 120-query batch where HALF the
queries are selective (rare term) and half are hot (stop-wordy) on the
big-shard index. Before r8, scorer="auto" collapsed the whole batch to
TAAT the moment one hot query appeared; with per-query dispatch the
mixed batch should sit near the per-subset optimum (BMW for the
selective half + TAAT for the hot half), not on the all-TAAT row.

`composed` (VERDICT r7 #6): the scale story end-to-end as ONE run —
synthesize N docs, curate them (exact dedup + quality/repetition/PII
gates + scrub), build the compressed index at the 130k-doc-shard
geometry, then serve a 120-query selective batch — with a phase
breakdown, so the composed cost at ~8x the bench corpus is one
artifact number instead of three separate experiments.

Methodology matches bench.py: interleaved best-of-REPS for the query
rows, host-bandwidth probes bracket the run, one JSON line at the end.
"""

from __future__ import annotations

import argparse
import json
import shutil
import tempfile
import time


def _bw():
    try:
        from host_controls import run_level

        run_level("bw", 8, 0.5)
        return round(max(run_level("bw", 8, 2.0) for _ in range(2)) / 1e9, 2)
    except Exception:
        return None


def run_mixed(spark, reps: int = 3) -> dict:
    from pyspark.sql import functions as F

    from oboyu_spark.operators.postings import build_index
    from oboyu_spark.operators.searchidx import IndexReader
    from oboyu_spark.sources.transcripts import synthesize_transcripts, turns_as_docs

    tr = synthesize_transcripts(spark, n_convs=12000, max_turns=20, seed=42)
    docs = turns_as_docs(tr).select("doc_id", "text")
    rare = spark.range(400).select(
        F.format_string("rare#%04d", F.col("id")).alias("doc_id"),
        F.concat(
            F.format_string("zsel%02d", F.pmod(F.col("id"), F.lit(20))),
            F.lit(" spark index search engine 検索 分散"),
        ).alias("text"),
    )
    docs = docs.unionByName(rare)
    bs_dir = tempfile.mkdtemp(prefix="bx_mixed_")
    out: dict = {}
    try:
        build_index(docs, bs_dir, shard_size=130_000, salt_chunk=500_000,
                    shards_per_part=16)
        reader = IndexReader(spark, bs_dir)
        # 60 selective + 60 hot queries, interleaved
        sel = [f"zsel{i % 20:02d} spark index engine" for i in range(60)]
        hot = ["spark index search engine" for _ in range(60)]
        mixed = [q for pair in zip(sel, hot) for q in pair]

        import oboyu_spark.operators.searchidx as SI

        def run(scorer):
            t0 = time.time()
            n = reader.search(mixed, k=10, scorer=scorer).count()
            return time.time() - t0, int(n)

        for s in ("taat", "bmw", "auto"):   # warmup
            run(s)
        rows = {s: [] for s in ("taat", "bmw", "auto")}
        for r in range(reps):
            for s in rows:
                dt, n = run(s)
                rows[s].append(round(dt, 3))
                out["batch_mixed_rows"] = n
        out["auto_scorer_decision"] = SI.last_scan_info().get("auto_scorer")
        out["auto_bmw_query_count"] = len(
            SI.last_scan_info().get("auto_bmw_queries") or [])
        for s, vals in rows.items():
            out[f"batch_mixed_{s}_bigshard"] = min(vals)
            out[f"batch_mixed_{s}_reps"] = vals
        reader.close()
    finally:
        shutil.rmtree(bs_dir, ignore_errors=True)
    return out


def run_composed(spark, n_docs: int, reps: int = 3) -> dict:
    from pyspark.sql import functions as F

    from oboyu_spark.operators.pipeline import prepare_corpus
    from oboyu_spark.operators.postings import build_index
    from oboyu_spark.operators.searchidx import IndexReader

    # deterministic corpus: mostly unique docs + planted exact dups +
    # junk + a rare-term slice so the serve stage has selective queries
    base = spark.range(n_docs).select(
        F.format_string("doc#%08d", F.col("id")).alias("doc_id"),
        F.concat(
            F.when(F.pmod(F.col("id"), 211) == 0,
                   F.format_string("zsel%02d ", F.pmod(F.col("id"), 20))
                   ).otherwise(F.lit("")),
            F.when(F.pmod(F.col("id"), 97) == 0, F.lit("!!! ??? !!!"))
            .otherwise(
                F.concat(
                    F.lit("spark index search engine distributed corpus "
                          "document token partition shuffle broadcast "),
                    # ~5% exact-duplicate mass (same tail as id-1)
                    F.format_string(
                        "tail %d words vary here",
                        F.when(F.pmod(F.col("id"), 19) == 0,
                               F.col("id") - 1).otherwise(F.col("id")),
                    ),
                )
            ),
        ).alias("text"),
    )
    out: dict = {}
    work = tempfile.mkdtemp(prefix="bx_composed_")
    try:
        t0 = time.time()
        res = prepare_corpus(
            base, exact=True, near_threshold=None, min_quality=0.3,
            max_dup_line_frac=0.9, max_pii_count=20,
            pii_kinds=("email", "ssn", "credit_card"),
            chunk_size=None, embed_dim=None,
        )
        res["docs"].write.mode("overwrite").parquet(f"{work}/curated")
        curated = spark.read.parquet(f"{work}/curated")
        out["curate_seconds"] = round(time.time() - t0, 3)
        out["input_docs"] = n_docs
        out["curated_docs"] = int(curated.count())

        t0 = time.time()
        meta = build_index(curated.select("doc_id", "text"), f"{work}/idx",
                           shard_size=130_000, salt_chunk=500_000,
                           shards_per_part=16)
        out["index_seconds"] = round(time.time() - t0, 3)
        out["index_phase_seconds"] = meta.get("phase_seconds")
        out["index_docs_per_sec"] = round(
            meta["n_docs"] / out["index_seconds"], 1)
        out["n_postings"] = meta["n_postings"]

        reader = IndexReader(spark, f"{work}/idx")
        batch = [f"zsel{i % 20:02d} spark index engine" for i in range(120)]
        reader.search(batch[:10], k=10, scorer="auto").count()  # warm
        vals = []
        for _ in range(reps):
            t0 = time.time()
            reader.search(batch, k=10, scorer="auto").count()
            vals.append(round(time.time() - t0, 3))
        out["serve_batch120_auto_seconds"] = min(vals)
        out["serve_batch120_reps"] = vals
        out["total_pipeline_seconds"] = round(
            out["curate_seconds"] + out["index_seconds"]
            + out["serve_batch120_auto_seconds"], 3)
        reader.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["mixed", "composed"])
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from oboyu_spark.session import get_spark

    out: dict = {"mode": args.mode, "bw_before": _bw()}
    spark = get_spark(app_name=f"bench_extra_{args.mode}")
    if args.mode == "mixed":
        out.update(run_mixed(spark, reps=args.reps))
    else:
        out.update(run_composed(spark, args.docs, reps=args.reps))
    out["bw_after"] = _bw()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
